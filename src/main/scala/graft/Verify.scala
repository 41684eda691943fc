package graft

import java.nio.file.{Files, Paths}

import graft.util.Jsons

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: run only the named query (local iteration);
    // oracle_sql.json is still written in full either way
    val only = args.lift(2)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_ == name) }
    // a misspelled --only name must fail loudly, not write nothing and
    // exit 0 (which reads as "all green" to a caller diffing outputs)
    if (only.isDefined && selected.isEmpty) {
      System.err.println(s"[verify] no query named '${only.get}' " +
        s"(known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
      spark.stop()
      sys.exit(2)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped JSON (control chars too): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    val json = Jsons.obj(SparkEntry.oracleSql.toSeq: _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
