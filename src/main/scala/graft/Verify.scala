package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry row's frame → parquet, plus
  * oracle_sql.json with the SQL each row's run rendered, for the DuckDB
  * hash compare (scripts/check_oracle.py replicates it). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev-loop filter for
    // checking one new query without dumping every SparkEntry.defs row
    // (the driver always passes exactly two args, so its contract is
    // unchanged)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names))
    }
    // a typo throws (SparkEntry.select): a silently-empty selection
    // would write an empty manifest and exit clean with nothing verified
    val selected = only.fold(SparkEntry.defs)(SparkEntry.select)
    // the session Bench, Inspect and perfbench run, on local[cpus]
    // (default 4) with the shuffle width to match
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a re-run into a used outDir must not inherit ANY stale end-of-run
    // artifact: the failure marker (a clean re-run would gate red), and
    // the manifest + oracles (a run that dies mid-loop would otherwise
    // leave fresh parquet next to an old manifest/oracle set, and
    // check_oracle would validate the partial snapshot as green)
    Seq("_failures.txt", "queries.txt", "oracle_sql.json").foreach(f =>
      Files.deleteIfExists(Paths.get(s"$outDir/$f")))
    // the manifest is written BEFORE the query loop (the registry is known
    // up front): a run killed mid-loop then leaves fresh parquet WITH a
    // manifest, so check_oracle's missing-output check catches the partial
    // snapshot — written after, the same death leaves no manifest and the
    // oracle-keys-only fallback would silently pass over the missing dirs
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      selected.keys.toSeq.sorted.mkString("", "\n", "\n"))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // each row's oracle comes from its own run: a trained row's SQL is
    // rendered from the very model value its frame is computed with, so
    // rows may run in any order or alone. The oracle is recorded before
    // the frame runs — a row that throws keeps its oracle key unless the
    // model step itself threw.
    val oracles = scala.collection.mutable.Map.empty[String, String]
    selected.foreach { case (name, qd) =>
      try {
        val run = qd.run(spark, sfDir)
        oracles(name) = run.oracleSql
        run.frame().coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // machine-readable failure marker: the exit code stays 0 (the driver's
    // contract), so tooling (scripts/gate.sh) reads this file instead of
    // scraping logs — log-scrape breaks silently if the message wording
    // changes, and a runtime-broken snapshot must not gate green
    if (failed.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/_failures.txt"),
        failed.sorted.mkString("", "\n", "\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.streaming.StreamReplay.stopStreams(spark)
    spark.stop()
  }
}
