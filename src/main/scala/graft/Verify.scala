package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // mark the oracle path: queries whose ★ oracle is only valid in an
    // exact regime (q356's n ≤ k KLL order-statistic twin) check this to
    // fail LOUDLY on an out-of-regime verify run instead of flaking on a
    // nondeterministic value mismatch; bench/scale runs never set it
    System.setProperty("graft.verify", "1")
    // the q221/q222 BPE oracle reads the documents corpus itself (its
    // constant tables are corpus-trained) — tell oracleSql which SF dir
    // this verify run is comparing at
    System.setProperty("graft.sfDir", sfDir)
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q95,q96 restricts the dump (local iteration only;
    // the driver leaves it unset and gets every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(f => f.exists(name.startsWith))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query hygiene (same as Bench): without it, persisted blocks
      // from 250+ operators accumulate for the whole dump
      Runs.release(spark)
    }
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
    // scope the oracle dump to the selected queries: under SPARK_GRAFT_ONLY
    // iteration the corpus-trained precomputes (q221/q222 collect the
    // corpus text and train the reference BPE) are skipped for queries
    // this run never compares — the driver leaves ONLY unset and still
    // gets every entry
    val json = SparkEntry
      .oracleSqlFiltered(k => only.forall(f => f.exists(k.startsWith)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
