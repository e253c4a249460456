package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bridge

import graft.{GraftSession, SparkEntry}
import graft.queries.DatalakeQueries
import graft.sources.Datalake
import graft.streaming.{DatalakeStreams, StreamReplay}

/** Benchmark harness: one workload, closed loop, one client thread.
  *
  *   perfbench.Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  *     <result json> <launch epoch ms>
  *
  * A round is the workload's fixed unit of work. After the warm-up rounds,
  * rounds repeat until `seconds` have passed and at least two have run.
  * With tracing on, at least four rounds run, half of them traced, so the
  * run also measures its own tracing overhead. Each operation is timed on
  * its own; the checks of its output run after its timer stops. Inputs come only from the generated input dir;
  * everything the program writes goes under the work dir and is deleted
  * after each round.
  */
object Main {
  var spark: SparkSession = _
  var workDir: String = _

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secondsS, traceS, outFile, launchMs) = args
    val mainUs = Rec.nowUs()
    this.workDir = workDir
    val trace = traceS == "1"
    val t0 = Rec.nowUs()
    val b = GraftSession.builder("perfbench")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
      .config("spark.local.dir", s"$workDir/spark-local")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Rec.nowUs() - t0) / 1e6
    val jobTrace = new JobTrace
    if (trace) spark.sparkContext.addSparkListener(jobTrace)

    val meta = sessionMeta()
    val nproc = Runtime.getRuntime.availableProcessors
    if (spark.sparkContext.defaultParallelism != nproc) {
      System.err.println(s"perfbench: defaultParallelism ${spark.sparkContext.defaultParallelism}" +
        s" != nproc $nproc; refusing to run")
      sys.exit(3)
    }

    val wl: Workload = workload match {
      case "etl_dag" => new EtlBatch(inDir)
      case "lake_txn" => new Both(new LakeTxn(inDir), new StreamIngest(s"$inDir/stream"))
      case other => System.err.println(s"unknown workload $other"); sys.exit(2); null
    }
    val lakeRoot = Paths.get(workDir, "lake")
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(lakeRoot)

    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val hygiene = new Hygiene(lakeRoot, tmpRoot)
    def runRound(r: Int, traced: Boolean): Unit = {
      Rec.round = r
      Rec.traced = traced
      val dir = lakeRoot.resolve(s"r$r")
      Files.createDirectories(dir)
      val fs0 = Fs.snapshot()
      val gc0 = gcMs()
      val jit0 = jitMs()
      val cpu0 = cpuNs()
      val cg0 = codegenCompiles()
      val s = Rec.nowUs()
      wl.round(r, dir.toString)
      val e = Rec.nowUs()
      val cpu = cpuNs() - cpu0
      if (traced) Bridge.drain(spark.sparkContext)
      Rec.traced = false
      val lake = wl.afterRound(dir.toString)
      val fs = Fs.delta(fs0)
      val h = hygiene.afterRound(dir)
      rounds += Map("round" -> r, "traced" -> traced, "start_us" -> s, "end_us" -> e,
        "rows" -> wl.roundRows, "input_bytes" -> wl.roundInputBytes, "fs" -> fs,
        "gc_ms" -> (gcMs() - gc0), "jit_ms" -> (jitMs() - jit0), "cpu_s" -> cpu / 1e9,
        "codegen_compiles" -> (codegenCompiles() - cg0),
        "lake" -> lake, "hygiene" -> h)
    }

    val setupT = Rec.nowUs()
    wl.setup()
    // one untimed round, part of set-up, so that the JIT has compiled the
    // round's hot paths before the timed loop
    runRound(-1, traced = false)
    val warmS = (Rec.nowUs() - setupT) / 1e6
    hygiene.baseline()
    heapPools.foreach(_.resetPeakUsage())

    val seconds = secondsS.toDouble
    val start = Rec.nowUs()
    val cpuTicks0 = hostCpuTicks()
    var r = 0
    // traced runs go untraced, traced, traced, untraced, ... so the JIT still
    // warming in the first timed round does not land on one side only
    def done = (Rec.nowUs() - start) / 1e6 >= seconds && r >= (if (trace) 4 else 2)
    while (!done) {
      r += 1
      runRound(r, traced = trace && (r % 4 == 2 || r % 4 == 3))
    }
    val cpuTicks = hostCpuTicks().zip(cpuTicks0).map { case (a, b) => a - b }
    Bridge.drain(spark.sparkContext)
    val end = wl.finish()
    val out = Map(
      "workload" -> workload, "meta" -> meta,
      "setup" -> Map("launch_ms" -> launchMs.toLong, "main_us" -> mainUs,
        "session_s" -> sessionS, "warmup_s" -> warmS),
      "rounds" -> rounds.toSeq, "ops" -> Rec.ops.toSeq.map(opJson),
      "spans" -> Rec.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end)),
      "batches" -> StreamTrace.batches.asScala.toSeq,
      "jobs" -> (if (trace) jobTrace.toJson else Nil),
      "planning" -> PlanTrace.phases.asScala.toSeq,
      "checks" -> Rec.checks, "failures" -> Rec.failures.toSeq, "hashes" -> wl.hashes.toMap,
      "hygiene" -> hygiene.summary(), "end" -> end,
      "host" -> Map("steal_share" -> (if (cpuTicks.sum > 0) cpuTicks(7).toDouble / cpuTicks.sum else 0.0)),
      "jvm" -> Map("heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "vm_hwm_mb" -> vmHwmMb()))
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(outFile), out)
  }

  private def opJson(o: Rec.Op): Map[String, Any] =
    Map("id" -> o.id, "round" -> o.round, "kind" -> o.kind, "name" -> o.name,
      "start_us" -> o.start, "end_us" -> o.end, "ok" -> o.ok, "err" -> o.err,
      "traced" -> o.traced) ++ o.extra

  private def sessionMeta(): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("default_parallelism" -> sc.defaultParallelism, "master" -> sc.master,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  /** CPU time of the whole JVM: task threads, JIT, GC. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Spark's generated-code compilations so far: each is a miss of its
    * compiled-code cache, and new classes for the JIT. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** The machine's CPU time counters from /proc/stat (user, nice, system,
    * idle, iowait, irq, softirq, steal, ...), in ticks. */
  private def hostCpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
  private def vmHwmMb(): Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }

  // ---- shared helpers -----------------------------------------------------

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_") &&
          (n.endsWith(".parquet") || n.endsWith(".json") || n.contains("part-"))
      }.toSeq
      finally s.close()
    }

  def dataFileCount(p: Path): Long = dataFiles(p).size.toLong
  def dataBytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  def localPath(hadoopPath: String): Path =
    Paths.get(new org.apache.hadoop.fs.Path(hadoopPath).toUri.getPath)

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val d = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(d)
      else Files.copy(f, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Keep-last usage stats recomputed with plain DataFrame operations: the
    * oracle for the DAG's and the stream's usage layer. Input: raw events
    * with a `ts_us` micros column. */
  def usageOracle(raw: DataFrame): Set[Seq[Any]] = {
    val last = raw
      .withColumn("value_clean", coalesce(col("value"), lit(0.0)))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value_clean"))).as("m"))
      .select(col("event_type"), col("m.value_clean").as("v"),
        timestamp_micros(col("m.ts_us")).cast("date").as("event_date"))
    last.filter(col("v") > 0).groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).cast("double").as("t"))
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSet
  }

  def usageRows(df: DataFrame): Set[Seq[Any]] =
    df.select("event_type", "event_date", "n_events", "total_value").collect()
      .map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSet
}

/** After-round hygiene: stop leaked streams in every session, delete the
  * round's lake root and every temp dir the round created, and compare disk
  * use and live threads with their level at the start of the timed run. */
class Hygiene(lakeRoot: Path, tmpRoot: Path) {
  private var disk0 = -1L
  private var threads0 = -1
  private var leakedStreams = 0
  private var diskLeaks = 0
  private var lastDisk = 0L
  private var lastThreads = 0
  private var tmpBefore: Set[String] = listTmp()

  private def listTmp(): Set[String] =
    Option(tmpRoot.toFile.list()).map(_.toSet).getOrElse(Set.empty)
  private def threads(): Int = ManagementFactory.getThreadMXBean.getThreadCount
  private def disk(): Long = Main.dirBytes(lakeRoot) + Main.dirBytes(tmpRoot)

  def afterRound(roundDir: Path): Map[String, Any] = {
    val leaked = StreamReplay.activeStreamsAnywhere(Main.spark)
    leaked.foreach(_.stop())
    leakedStreams += leaked.size
    Main.rmTree(roundDir)
    (listTmp() -- tmpBefore).foreach(n => Main.rmTree(tmpRoot.resolve(n)))
    tmpBefore = listTmp()
    lastDisk = disk()
    lastThreads = threads()
    if (disk0 >= 0 && lastDisk > disk0) diskLeaks += 1
    Map("leaked_streams" -> leaked.size, "disk_bytes" -> lastDisk, "threads" -> lastThreads)
  }

  def baseline(): Unit = { disk0 = disk(); threads0 = threads() }

  def summary(): Map[String, Any] = {
    if (leakedStreams > 0) Rec.failures += s"hygiene: $leakedStreams leaked streams stopped"
    if (diskLeaks > 0) Rec.failures += s"hygiene: disk use above its start after $diskLeaks rounds"
    Map("disk_start" -> disk0, "disk_end" -> lastDisk, "threads_start" -> threads0,
      "threads_end" -> lastThreads, "leaked_streams" -> leakedStreams)
  }
}

trait Workload {
  def setup(): Unit = ()
  def round(r: Int, dir: String): Unit
  def roundRows: Long
  def roundInputBytes: Long
  /** Lake facts read after the round's timed region (not timed). */
  def afterRound(dir: String): Map[String, Any] =
    Map("files_written" -> Main.dataFileCount(Paths.get(dir)), "bytes" -> Main.dirBytes(Paths.get(dir)))
  def finish(): Map[String, Any] = Map.empty
  /** Row hash of each checked query output, as the last round computed it. */
  val hashes = mutable.LinkedHashMap.empty[String, String]
}

/** Two workloads' rounds run back to back as one. */
class Both(a: Workload, b: Workload) extends Workload {
  override def setup(): Unit = { a.setup(); b.setup() }
  def round(r: Int, dir: String): Unit = { a.round(r, s"$dir/a"); b.round(r, s"$dir/b") }
  def roundRows: Long = a.roundRows + b.roundRows
  def roundInputBytes: Long = a.roundInputBytes + b.roundInputBytes
  override def afterRound(dir: String): Map[String, Any] = a.afterRound(dir) ++ b.afterRound(dir)
  override def finish(): Map[String, Any] = a.finish() ++ b.finish()
  override val hashes = a.hashes
}

/** Generated input facts written by gen.py. */
object Inputs {
  def rows(inDir: String): Map[String, Long] = {
    val txt = new String(Files.readAllBytes(Paths.get(inDir, "_inputs.json")), "UTF-8")
    val tables = """"tables":\s*\{([^}]*)\}""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    """"(\w+)":\s*(\d+)""".r.findAllMatchIn(tables).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

/** The reference ETL DAG, three of its usage-layer rows, and one operator each from
  * the graph, similarity and text families, over the generated sf0.1 copy. */
class EtlBatch(in: String) extends Workload {
  private val spark = Main.spark
  private lazy val rows = Inputs.rows(in)
  private var oracle: Set[Seq[Any]] = _
  private lazy val expected = Hashes.expected()
  def roundRows: Long = rows.values.sum
  def roundInputBytes: Long = rows.keys.map(t => Main.dirBytes(Paths.get(in, s"$t.parquet"))).sum

  override def setup(): Unit = {
    oracle = Main.usageOracle(spark.read.parquet(s"$in/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us")))
  }

  def round(r: Int, dir: String): Unit = {
    Rec.op("dag", "DatalakeQueries.run") { _ =>
      val usage = Rec.span("queries:DatalakeQueries.run") {
        DatalakeQueries.run(spark, in, s"$dir/dag") }
      Rec.span("datalake.read:usage") { Main.usageRows(usage) }
    }.foreach(got => Rec.check(got == oracle,
      s"etl_dag usage layer differs from recompute (${got.size} vs ${oracle.size} rows)"))
    Rec.op("dag", "DatalakeQueries.runDual") { _ =>
      val seg = Rec.span("queries:DatalakeQueries.runDual") {
        DatalakeQueries.runDual(spark, in, s"$dir/dual") }
      Rec.span("datalake.read:segment_stats") { seg.collect().length }
    }.foreach(n => Rec.check(n > 0, "etl_dag runDual returned no rows"))
    // the row hash is the queries' sink: like the noop sink it reads every
    // row and column, and it yields an order-independent answer to check
    for (q <- Hashes.queries) {
      Rec.op("query", q) { _ =>
        val df = Rec.span(s"queries:$q") { SparkEntry.queries(q)(spark, in) }
        Rec.span("bench:row_hash") { Hashes.of(df) }
      }.foreach { h =>
        hashes(q) = h
        Rec.check(expected.get(q).contains(h),
          s"etl_dag $q row hash $h != expected ${expected.getOrElse(q, "(none recorded)")}")
      }
    }
  }
}

/** Order-independent row hashes of registry query outputs, and the values
  * recorded for them (`perfbench/expected_hashes.json`). */
object Hashes {
  /** The usage-layer rows of the reference DAG, then one graph, one
    * similarity and one text operator. */
  val queries = Seq("q_market_stats", "q_opportunities", "q_validated_filter",
    "q_bom_rollup", "q_minhash_neardup", "q_tfidf_keywords")

  /** "<rows>:<sum of row hashes>". Doubles are rounded to 6 decimals first,
    * so a change in float summation order does not change the hash. */
  def of(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _: MapType | _: ArrayType | _: StructType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  def expected(): Map[String, String] = {
    val f = Paths.get(System.getProperty("perfbench.expected", "perfbench/expected_hashes.json"))
    if (!Files.exists(f)) Map.empty
    else {
      val txt = new String(Files.readAllBytes(f), "UTF-8")
      """"(\w+)":\s*"([^"]*)"""".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
    }
  }
}

/** Small transactions against one stats-bearing lake table, checked against
  * the benchmark's own model of the operation log. */
class LakeTxn(in: String) extends Workload {
  import org.apache.spark.sql.types._
  private val spark = Main.spark
  private val model = mutable.HashMap.empty[Long, Long] // k -> cents
  private var root: String = _
  private var opsLog: Seq[Seq[Array[String]]] = _
  /** committed version -> (commit time ms, (rows, key sum, cents sum)) */
  private val versions = mutable.LinkedHashMap.empty[String, (Long, (Long, Long, Long))]
  private var retained = Set.empty[String]
  private var roundMergeRows = 0L
  private val deltaSchema = StructType(Seq(StructField("k", LongType), StructField("cust", LongType),
    StructField("cents", LongType), StructField("prio", StringType)))

  def roundRows: Long = roundMergeRows
  def roundInputBytes: Long = roundMergeRows * 32L

  private def fp(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)),
      coalesce(sum(col("cents")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def modelFp: (Long, Long, Long) = (model.size.toLong, model.keys.sum, model.values.sum)

  override def setup(): Unit = {
    opsLog = Files.readAllLines(Paths.get(in, "ops.tsv")).asScala.toSeq.map(_.split("\t"))
      .groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(_.drop(1)))
    root = s"${Main.workDir}/table"
    val base = spark.read.parquet(s"$in/base.parquet")
    base.select("k", "cents").collect().foreach(r => model(r.getLong(0)) = r.getLong(1))
    Datalake.publishCas(base, root, 0L, statsCols = Seq("k"))
    commitVersion()
    Rec.check(fp(Datalake.readPublished(spark, root)) == modelFp, "lake_txn initial table")
  }

  private def commitVersion(): Unit = {
    val v = Datalake.currentVersion(spark, root).get
    versions(v) = (System.currentTimeMillis(), modelFp)
    retained = Datalake.listVersions(spark, root).toSet
  }

  private def verifyWrite(what: String): Unit =
    Rec.check(fp(Datalake.readPublished(spark, root)) == modelFp, s"lake_txn table after $what differs from the model")

  def round(r: Int, dir: String): Unit = {
    roundMergeRows = 0L
    for (o <- opsLog(Math.floorMod(r, opsLog.size))) o(0) match {
      case "merge" =>
        val ks = o(1).split(',').map(_.toLong).toSeq
        val cs = o(2).split(',').map(_.toLong).toSeq
        val delta = spark.createDataFrame(
          ks.zip(cs).map { case (k, c) => Row(k, k % 1000, c, "3-MEDIUM") }.asJava, deltaSchema)
        roundMergeRows += ks.size
        Rec.op("write", "mergeTransact") { _ =>
          Rec.span("datalake.commit:mergeTransact") {
            Datalake.mergeTransact(spark, root, delta, Seq("k"), statsCols = Seq("k")) }
        }
        ks.zip(cs).foreach { case (k, c) => model(k) = c }
        commitVersion()
        verifyWrite("merge")
      case "delete" =>
        val (lo, hi) = (o(1).toLong, o(2).toLong)
        Rec.op("write", "deleteWhere") { _ =>
          Rec.span("datalake.commit:deleteWhere") {
            Datalake.deleteWhere(spark, root, col("k").between(lo, hi)) }
        }
        model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
        verifyWrite("delete")
      case "optimize" =>
        Rec.op("write", "optimize") { _ =>
          Rec.span("datalake.commit:optimize") {
            Datalake.optimize(spark, root, o(1).toInt,
              clusterBy = Seq("k"), statsCols = Seq("k")) }
        }
        commitVersion()
        verifyWrite("optimize")
      case "vacuum" =>
        Rec.op("write", "vacuum") { _ =>
          Rec.span("datalake.commit:vacuum") {
            Datalake.vacuum(spark, root, o(1).toInt) }
        }
        retained = Datalake.listVersions(spark, root).toSet
        verifyWrite("vacuum")
      case "read_range" =>
        val (lo, hi) = (o(1).toLong, o(2).toLong)
        val got = Rec.op("read", "readPublishedPruned") { x =>
          val s = Rec.span("datalake.read:readPublishedPruned") {
            Datalake.readPublishedPruned(spark, root, "k", lo.toDouble, hi.toDouble) }
          val res = Rec.span("bench:action") {
            s.df.filter(col("k").between(lo, hi))
              .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head() }
          x("files_total") = s.filesTotal; x("files_scanned") = s.filesScanned
          x("rows_in_scanned") = s.rowsInScannedFiles; x("rows_out") = res.getLong(0)
          (res.getLong(0), res.getLong(1))
        }
        val want = model.iterator.filter { case (k, _) => k >= lo && k <= hi }
          .foldLeft((0L, 0L)) { case ((n, c), (_, v)) => (n + 1, c + v) }
        got.foreach(g => Rec.check(g == want, s"lake_txn range read [$lo,$hi] $g != $want"))
      case "read_asof" =>
        val live = versions.keys.filter(retained.contains).toSeq
        val v = live((o(1).toDouble * live.size).toInt.min(live.size - 1))
        val (ts, want) = versions(v)
        val got = Rec.op("read", "readAsOf") { _ =>
          val df = Rec.span("datalake.read:readAsOf") { Datalake.readAsOf(spark, root, ts) }
          Rec.span("bench:action") { fp(df) }
        }
        got.foreach(g => Rec.check(g == want, s"lake_txn readAsOf version $v: $g != $want"))
      case "read_full" =>
        val got = Rec.op("read", "readPublished") { _ =>
          val df = Rec.span("datalake.read:readPublished") { Datalake.readPublished(spark, root) }
          Rec.span("bench:action") { fp(df) }
        }
        got.foreach(g => Rec.check(g == modelFp, s"lake_txn full read $g != $modelFp"))
    }
  }

  override def afterRound(dir: String): Map[String, Any] = {
    val p = Paths.get(root)
    val live = Datalake.currentDataPath(spark, root)
      .map(d => Main.dataFileCount(Main.localPath(d))).getOrElse(0L)
    Map("files_written" -> 0L, "bytes" -> Main.dirBytes(p), "files_live" -> live,
      "log_bytes" -> (Main.dirBytes(p.resolve("_commits")) + Main.dirBytes(p.resolve("_history"))))
  }

  override def finish(): Map[String, Any] = {
    val p = Paths.get(root)
    val total = Main.dirBytes(p)
    val live = Datalake.currentDataPath(spark, root).map(Main.localPath)
    val liveBytes = live.map(Main.dataBytes).getOrElse(0L)
    val liveFiles = live.map(Main.dataFileCount).getOrElse(0L)
    Main.rmTree(p)
    Map("table_bytes" -> total, "live_bytes" -> liveBytes, "live_files" -> liveFiles,
      "model_rows" -> model.size)
  }
}

/** Raw fetch files drained one per micro-batch through the publishing
  * backfill. */
class StreamIngest(in: String) extends Workload {
  private val spark = Main.spark
  private var usageWant: Set[Seq[Any]] = _
  private lazy val rawRows = Files.list(Paths.get(in, "raw")).iterator().asScala
    .map(p => Files.readAllLines(p).size.toLong).sum
  def roundRows: Long = rawRows
  def roundInputBytes: Long = Main.dirBytes(Paths.get(in, "raw"))

  override def setup(): Unit = {
    usageWant = Main.usageOracle(spark.read.schema(DatalakeStreams.rawSchema).json(s"$in/raw"))
  }

  def round(r: Int, dir: String): Unit = {
    val raw = Paths.get(dir, "raw")
    Main.copyTree(Paths.get(in, "raw"), raw)
    val table = s"$dir/usage/events/market_stats"
    Rec.op("stream", "runPublishingBackfill") { _ =>
      val stream = Rec.span("streaming:readRawStream") {
        DatalakeStreams.readRawStream(spark, raw.toString, maxFilesPerTrigger = 1) }
      val q = Rec.span("streaming:runPublishingBackfill") {
        DatalakeStreams.runPublishingBackfill(stream, s"$dir/formatted/events/log", table, s"$dir/ck") }
      Rec.span("streaming:awaitTermination") { q.awaitTermination() }
      q.exception.foreach(e => throw e)
    }
    val got = Main.usageRows(Datalake.readPublished(spark, table))
    Rec.check(got == usageWant, s"lake_txn stream's published usage differs from the batch recompute (${got.size} vs ${usageWant.size})")
  }
}
