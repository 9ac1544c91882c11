package graft
import java.nio.file.{Files, Paths}

import graft.catalog.GraftIO

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare (replicated
  * locally by `tools/check.py`).
  *
  * Args: sfDir outDir [prefixes]. The optional third argument is a
  * comma-separated name-prefix filter ([[select]]) for single-query
  * iteration (the driver's 2-arg invocation runs all): only the
  * selected entries run and only their oracle SQL is written, so
  * check.py checks exactly that subset. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val selected = select(SparkEntry.queries.keys, args.drop(2).headOption)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // A crashing query must surface as an error entry, never silently
    // shrink the inventory (round-10 lesson: q54's crash made the round
    // report 70/70 green instead of 70/71). The sentinel is a parquet
    // dir the driver can't read plus an `_error` text file with the
    // message — absence of output can no longer be mistaken for
    // "not declared".
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      val sentinel = Paths.get(s"$outDir/${name}._error")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // outDir reuse: a stale sentinel from an earlier failed run must
        // not keep reporting ERR once the query is green again
        Files.deleteIfExists(sentinel)
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${e.getMessage}\n" +
          e.getStackTrace.take(12).mkString("", "\n", "\n")
        Files.writeString(sentinel, msg)
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${GraftIO.jsonString(k)}: ${GraftIO.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // summary on stderr; exit 0 regardless — the per-query _error
    // sentinels carry the failures, and a nonzero exit could make the
    // driver discard the 70 good results along with the one bad one
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"failed: ${failed.sorted.mkString(", ")}")
  }

  /** The declared names a comma-separated prefix filter selects; every
    * name without a filter. A prefix covers whole `_`-separated words, so
    * `q119` selects `q119_mor_dml` but not `q119b_mor_composite_key`. A
    * prefix that matches no declared name is an error, so a typo never
    * passes as an empty check. */
  private[graft] def select(declared: Iterable[String], filter: Option[String]): Set[String] =
    filter.fold(declared.toSet) { f =>
      val prefixes = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      def matches(p: String)(name: String) = name == p || name.startsWith(p + "_")
      val unmatched = prefixes.filterNot(p => declared.exists(matches(p)))
      require(prefixes.nonEmpty, s"empty query filter '$f'")
      require(unmatched.isEmpty, s"no declared query matches ${unmatched.mkString(", ")}")
      declared.filter(n => prefixes.exists(matches(_)(n))).toSet
    }
}
