package graft

import graft.sources.Commit
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** The at-rest commit protocol every durable writer goes through:
  * publish-if-absent, swap in place, and commit-or-replay. */
class CommitSpec extends GraftSuite {

  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sessionState.newHadoopConf())

  private def tmpDir(tag: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(tag).toString)

  private def ids(p: Path): Seq[Long] =
    spark.read.parquet(p.toString).collect().map(_.getLong(0)).sorted.toSeq

  /** A file system whose renames fail for the sources `failing` picks. */
  private class FailingRenames(failing: Path => Boolean)
      extends FilterFileSystem(localFs) {
    override def rename(src: Path, dst: Path): Boolean =
      !failing(src) && super.rename(src, dst)
  }

  test("publishIfAbsent: a lost race serves the twin's rows and leaves no tmp inside or beside the target") {
    val fs = localFs
    val root = tmpDir("commit_race")
    val dst = new Path(root, "artifact")
    val built = Commit.publishIfAbsent(fs, dst) { tmp =>
      // a twin builder commits dst while this build is still writing
      val twinTmp = new Path(root, ".tmp-artifact-twin")
      spark.range(100, 103).toDF("id").write.parquet(twinTmp.toString)
      assert(fs.rename(twinTmp, dst))
      spark.range(0, 5).toDF("id").write.parquet(tmp.toString)
    }
    assert(built)
    assert(ids(dst) == Seq(100L, 101L, 102L), "the twin's committed rows must be served")
    val debris = (fs.listStatus(dst) ++ fs.listStatus(root))
      .map(_.getPath.getName).filter(_.startsWith(".tmp-"))
    assert(debris.isEmpty, s"tmp left inside or beside the target: ${debris.toSeq}")
    // committed: a second publish serves it without running the build
    assert(!Commit.publishIfAbsent(fs, dst)(_ => fail("a committed target must not rebuild")))
  }

  test("publishIfAbsent: marks a multi-table build committed, sweeps orphans, replaces uncommitted debris") {
    val fs = localFs
    val root = tmpDir("commit_publish")
    val dst = new Path(root, "index")
    fs.mkdirs(new Path(root, ".tmp-index-123")) // a builder that died before its finally
    fs.mkdirs(new Path(root, ".tmp-other-123")) // another artifact's: never touched
    fs.mkdirs(dst)                              // a crashed non-atomic write
    assert(Commit.publishIfAbsent(fs, dst) { tmp =>
      spark.range(3).toDF("id").write.parquet(new Path(tmp, "a").toString)
    })
    assert(Commit.committed(fs, dst))
    assert(ids(new Path(dst, "a")) == Seq(0L, 1L, 2L))
    assert(fs.listStatus(root).map(_.getPath.getName).toSet == Set("index", ".tmp-other-123"))
  }

  test("swap: a failed swap rolls back, and a failed rollback names the bak that holds the original") {
    val root = tmpDir("commit_swap")
    val dst = new Path(root, "t")
    val bak = new Path(root, "t_compact_bak")
    spark.range(4).toDF("id").write.parquet(dst.toString)
    def rewrite(fs: FileSystem) = Commit.swap(fs, dst) { tmp =>
      spark.read.parquet(dst.toString).repartition(1).write.parquet(tmp.toString)
    }
    val swapFails = new FailingRenames(_.getName == "t_compact_tmp")
    val restored = intercept[IllegalStateException](rewrite(swapFails))
    assert(restored.getMessage.contains("original restored"))
    assert(ids(dst) == Seq(0L, 1L, 2L, 3L))
    val bothFail = new FailingRenames(p => p.getName == "t_compact_tmp" || p == bak)
    val stranded = intercept[IllegalStateException](rewrite(bothFail))
    assert(stranded.getMessage.contains(bak.toString), stranded.getMessage)
    assert(!localFs.exists(dst) && ids(bak) == Seq(0L, 1L, 2L, 3L))
    // the next swap recovers the bak before it reads dst
    rewrite(localFs)
    assert(ids(dst) == Seq(0L, 1L, 2L, 3L))
    assert(localFs.listStatus(root).map(_.getPath.getName).toSeq == Seq("t"))
  }

  test("swap: a concurrent recover between the two renames fails the swap, not the base") {
    val root = tmpDir("commit_swap_race")
    val dst = new Path(root, "t")
    spark.range(4).toDF("id").write.parquet(dst.toString)
    // another reader's recover lands just before the swap's rename(tmp, dst)
    val raced = new FilterFileSystem(localFs) {
      override def rename(src: Path, to: Path): Boolean = {
        if (src.getName == "t_compact_tmp") Commit.recover(localFs, to)
        super.rename(src, to)
      }
    }
    val ex = intercept[IllegalStateException] {
      Commit.swap(raced, dst) { tmp =>
        spark.range(10, 12).toDF("id").write.parquet(tmp.toString)
      }
    }
    assert(ex.getMessage.contains("concurrent recover"), ex.getMessage)
    assert(ids(dst) == Seq(0L, 1L, 2L, 3L), "the restored base must stand")
    assert(!localFs.exists(new Path(dst, "t_compact_tmp")), "the nested copy must be removed")
    assert(localFs.listStatus(root).map(_.getPath.getName).toSeq == Seq("t"))
  }

  test("commitOrReplay: a replay of the same multiset stands, a collision refuses, debris is replaced") {
    import spark.implicits._
    val fs = localFs
    val gen = new Path(tmpDir("commit_gen"), "batch-0")
    fs.mkdirs(gen) // an uncommitted attempt
    Commit.commitOrReplay(fs, gen, Seq(1L, 1L, 2L).toDF("id"))
    assert(ids(gen) == Seq(1L, 1L, 2L))
    Commit.commitOrReplay(fs, gen, Seq(2L, 1L, 1L).toDF("id"))
    val ex = intercept[IllegalArgumentException] {
      Commit.commitOrReplay(fs, gen, Seq(1L, 2L, 2L).toDF("id"))
    }
    assert(ex.getMessage.contains("batch-id collision"))
    assert(ids(gen) == Seq(1L, 1L, 2L), "a refused collision must not touch the generation")
    assert(!Commit.sameRows(Seq(1L).toDF("id"), Seq(1L, 1L).toDF("id")))
  }
}
