package graft

import org.apache.spark.sql.SparkSession

/** What every command-line main shares: one session configuration (the
  * front door, [[GraftSession.build]], sized from SPARK_GRAFT_CPUS), the
  * data dir and query-name filter they read from the environment, and the
  * `oracle_sql.json` writer of the Verify dump layout. */
private[graft] object Harness {
  /** Cores of the local master and the shuffle width: SPARK_GRAFT_CPUS,
    * default the machine's processor count. */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The scale-factor dir Bench and ExpPairedConf run against:
    * SPARK_GRAFT_SF_DIR, default the graded bench SF. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The query names listed in the comma-separated env var `env`, or None
    * (run every query) when it is unset. */
  def queryFilter(env: String): Option[Set[String]] =
    queryNames(env, sys.env.get(env))

  /** Fails fast on a name that is not a [[SparkEntry.queries]] key: a
    * typo'd filter would select nothing, so Verify would leave a prior
    * run's dumps for the oracle compare to grade as current, and Bench
    * would write an empty record over BENCH_LAST.json. */
  private[graft] def queryNames(env: String,
      value: Option[String]): Option[Set[String]] =
    value.map { v =>
      val names = v.split(",").map(_.trim).toSet
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        sys.error(s"$env names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
      names
    }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in query SQL would otherwise make the oracle
    * compare's json.load fail. */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes `$outDir/oracle_sql.json`: one object, query name -> oracle SQL. */
  def writeOracleSql(outDir: String, sql: Iterable[(String, String)]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      sql.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
}
