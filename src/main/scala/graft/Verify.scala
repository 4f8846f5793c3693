package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Hint every CTE in a builder-authored oracle as MATERIALIZED.
    *
    * DuckDB inlines a CTE at each reference site unless hinted; the
    * chained k-means oracles (d22/d25–d30, d33, s10) reference each
    * round's centroid CTE twice, so inlining re-evaluates the whole
    * prefix chain per reference — exponential in rounds. Round 6's
    * correctness report came back EMPTY because d29's oracle alone ran
    * ~6 min under inlining (the full 149-oracle pass ~11 min) and the
    * driver's verify step died; with hints d29 is 1.5 s. Applied here,
    * at the single emission point, so builders stay plain SQL.
    *
    * The match is anchored to CTE positions only: a name + `AS (`
    * directly after `WITH` or after a closing paren + comma (the
    * previous CTE). Named-window clauses (`WINDOW w AS (...)`) never
    * match — `WINDOW` isn't `WITH`, and no oracle declares two windows
    * comma-separated (asserted by OracleSqlSpec).
    */
  def materializeCtes(sql: String): String = sql.replaceAll(
    "(?i)(\\bWITH\\s+|\\)\\s*,\\s*)([A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(",
    "$1$2 MATERIALIZED (")

  /** The one shape [[materializeCtes]] would corrupt: comma-separated
    * named windows (`WINDOW a AS (...), b AS (`) — the `), name AS (`
    * half of the rewrite would hint the SECOND window as a CTE and
    * emit invalid DuckDB SQL. OracleSqlSpec pins this at test time;
    * [[main]] re-asserts it at DUMP time so a bad oracle fails loudly
    * instead of shipping a broken oracle_sql.json. */
  val MultiWindow =
    "(?is)\\bWINDOW\\s+\\w+\\s+AS\\s*\\([^()]*\\)\\s*,\\s*\\w+\\s+AS\\s*\\(".r

  def assertRewriteSafe(oracles: Map[String, String]): Unit = {
    val offenders = oracles.collect {
      case (k, sql) if MultiWindow.findFirstIn(sql).isDefined => k
    }
    require(offenders.isEmpty,
      s"comma-separated WINDOW clauses break materializeCtes: " +
        offenders.mkString(", "))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
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
    // Written BEFORE the query loop: if the dump is killed mid-run the
    // driver still gets a well-formed oracle file and per-query
    // missing-output errors, not an empty round.
    assertRewriteSafe(SparkEntry.oracleSql)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(materializeCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // local-iteration filter, same contract as Bench's; the driver
    // sets no env and always gets the full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // r17 (ADVICE r16): free every operator pin (Pins.release)
        // before each query, exactly as Bench does between reps — the r16
        // eager-checkpoint pins (d63/d72/d85/d92/d93/d21/q71/d74/
        // d29/d47) otherwise ACCUMULATE
        // MEMORY_AND_DISK blocks across all 300+ queries in this one
        // session. Safe here: each query's parquet is fully written
        // before the next query builds.
        Pins.release()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
