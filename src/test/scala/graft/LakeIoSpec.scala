package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.JobCounter

import graft.sources.{Datalake, InProcessLocalFileSystem, InProcessLocalFs}
import graft.streaming.StreamReplay.scratch

/** Lake I/O pays no fixed cost graft can avoid: file modes are set
  * in-process, and a dir graft wrote is read with the schema it was
  * written with instead of a schema-inference job.
  */
class LakeIoSpec extends SparkSpecBase {
  import spark.implicits._

  private def hconf: Configuration = spark.sparkContext.hadoopConfiguration

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("the session's file systems set the same modes as stock Hadoop") {
    val root = scratch("graft-modes")
    val ours = new Path(root.toUri).getFileSystem(hconf)
    assert(ours.isInstanceOf[InProcessLocalFileSystem])
    val fc = FileContext.getFileContext(new Path(root.toUri).toUri, hconf)
    assert(fc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), new Configuration())
    val stockFc = FileContext.getLocalFSFileContext(new Configuration())
    assert(!stockFc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    val explicit = Seq(None, Some(new FsPermission("640")),
      Some(new FsPermission("750")), Some(new FsPermission("700")))
    explicit.zipWithIndex.foreach { case (perm, i) =>
      def made(side: String, mk: Path => Unit): Path = {
        val p = new Path(root.resolve(s"$side-$i").toUri)
        mk(p)
        p
      }
      def file(fs: org.apache.hadoop.fs.FileSystem)(p: Path): Unit =
        (perm match {
          case Some(m) => fs.create(p, m, true, 4096, 1.toShort, 1L << 25, null)
          case None => fs.create(p, true)
        }).close()
      def dir(fs: org.apache.hadoop.fs.FileSystem)(p: Path): Unit =
        perm match {
          case Some(m) => fs.mkdirs(p, m)
          case None => fs.mkdirs(p)
        }
      val fileOurs = made("file-ours", file(ours))
      val fileStock = made("file-stock", file(stock))
      assert(mode(fileOurs) === mode(fileStock), s"file, permission $perm")
      assert(mode(new Path(root.resolve(s".file-ours-$i.crc").toUri)) ===
        mode(new Path(root.resolve(s".file-stock-$i.crc").toUri)))
      val dirOurs = made("dir-ours", dir(ours))
      val dirStock = made("dir-stock", dir(stock))
      assert(mode(dirOurs) === mode(dirStock), s"dir, permission $perm")
      // the FileContext path: Spark's checkpoint files, graft's renames
      def fcFile(c: FileContext)(p: Path): Unit = c.create(p,
        java.util.EnumSet.of(CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.perms(
          perm.getOrElse(FsPermission.getFileDefault))).close()
      def fcDir(c: FileContext)(p: Path): Unit =
        c.mkdir(p, perm.getOrElse(FsPermission.getDirDefault), true)
      assert(mode(made("fc-file-ours", fcFile(fc))) ===
        mode(made("fc-file-stock", fcFile(stockFc))), s"FileContext file, permission $perm")
      assert(mode(made("fc-dir-ours", fcDir(fc))) ===
        mode(made("fc-dir-stock", fcDir(stockFc))), s"FileContext dir, permission $perm")
    }
  }

  test("the session's file system gives the stock link status of a file, dir and symlink") {
    val root = scratch("graft-links")
    Files.writeString(root.resolve("f"), "x")
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    val ours = new Path(root.toUri).getFileSystem(hconf)
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), new Configuration())
    Seq("f", "d", "l").foreach { n =>
      val p = new Path(root.resolve(n).toUri)
      val (a, b) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert((a.isFile, a.isDirectory, a.isSymlink, a.getLen, a.getPath) ===
        (b.isFile, b.isDirectory, b.isSymlink, b.getLen, b.getPath), n)
      if (b.isSymlink) assert(a.getSymlink === b.getSymlink)
    }
  }

  private val rows = (0 until 300).map(i => (i.toLong, i % 3, s"n$i", i * 1.5))
  private def table: DataFrame = rows.toDF("k", "p", "name", "x")

  /** One table of each shape: its root, and every data dir its reads scan. */
  private def shapes(): Seq[(String, String, Seq[String])] = {
    val base = scratch("graft-shapes").toString
    def cur(root: String) = Datalake.currentDataPath(spark, root).get
    val plain = s"$base/plain"
    Datalake.publish(table, plain, "1")
    val parted = s"$base/parted"
    Datalake.publish(table, parted, "1", Seq("p"), Seq("k"))
    val dv = s"$base/dv"
    Datalake.publish(table, dv, "1", Seq("p"), Seq("k"))
    Datalake.deleteWhere(spark, dv, col("k").between(10, 40))
    val refSrc = s"$base/refsrc"
    Datalake.publish(table, refSrc, "1", Seq("p"), Seq("k"))
    val ref = s"$base/ref"
    Datalake.shallowClone(spark, refSrc, ref)
    val epoch = s"$base/epoch"
    Datalake.publishEpochCas(table, epoch, "0", Seq("p"))
    val merge = s"$base/merge"
    Datalake.publishCas(table, merge, 0L, statsCols = Seq("k"))
    Datalake.mergeTransact(spark, merge,
      Seq((5L, 2, "m5", 0.5), (900L, 0, "m900", 9.0)).toDF("k", "p", "name", "x"),
      Seq("k"), statsCols = Seq("k"))
    val evolved = s"$base/evolved"
    Datalake.publishEvolved(table.filter(col("k") < 100), evolved, "1", Nil)
    Datalake.publishEvolved(table.filter(col("k") >= 100), evolved, "2", Seq("p"))
    Seq(("plain", plain, Seq(cur(plain))), ("partitioned", parted, Seq(cur(parted))),
      ("DV token", dv, Seq(cur(dv))), ("ref= clone", ref, Seq(cur(ref))),
      ("epoch", epoch, Seq(cur(epoch))), ("CAS merge", merge, Seq(cur(merge))),
      ("evolved chain", evolved,
        Datalake.evolvedSegments(spark, evolved).map(_.addPath)))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("each table shape records the schema Spark would infer") {
    val all = shapes()
    all.foreach { case (shape, root, dirs) =>
      dirs.foreach { d =>
        val recorded = Datalake.recordedSchema(spark, d)
        assert(recorded.nonEmpty, s"$shape: no schema recorded in $d")
        assert(spark.read.schema(recorded.get).parquet(d).schema ===
          spark.read.parquet(d).schema, s"$shape: $d")
      }
      if (shape == "ref= clone")
        assert(dirs.head.contains("/refsrc/"), "a ref= clone reads its source's dir")
    }
    val dvDirs = Files.list(Paths.get(all.find(_._1 == "DV token").get._2, "_dv"))
      .iterator.asScala.toSeq
    assert(dvDirs.nonEmpty)
    dvDirs.foreach(d => assert(
      spark.read.schema(Datalake.DvSchema).parquet(d.toString).schema ===
        spark.read.parquet(d.toString).schema))
  }

  /** Jobs started in this thread's own job group while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"lake-io-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "lake read frames")
      try body finally sc.clearJobGroup()
      JobCounter.settledCount(sc) // drains the listener bus
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  test("building a read frame of any table shape starts no Spark job") {
    shapes().foreach { case (shape, root, _) =>
      val jobs = jobsIn {
        if (shape == "evolved chain") {
          Datalake.readEvolved(spark, root)
          Datalake.evolvedPrunedScan(spark, root, "p", "1")
        } else {
          Datalake.readPublished(spark, root)
          Datalake.listVersions(spark, root).foreach(Datalake.readVersion(spark, root, _))
          if (shape != "plain" && shape != "epoch")
            Datalake.readPublishedPruned(spark, root, "k", 0, 50)
        }
      }
      assert(jobs === 0, s"$shape: building its read frames ran $jobs jobs")
    }
  }

  test("a dir without its schema file reads the same rows by inference") {
    shapes().foreach { case (shape, root, dirs) =>
      def read() =
        if (shape == "evolved chain") Datalake.readEvolved(spark, root)
        else Datalake.readPublished(spark, root)
      val before = read()
      val want = sorted(before)
      dirs.foreach { d =>
        val f = new Path(d, "_DATASCHEMA.json")
        assert(f.getFileSystem(hconf).delete(f, false), s"$shape: no $f")
      }
      val after = read()
      assert(after.schema === before.schema, shape)
      assert(sorted(after) === want, shape)
    }
  }
}
