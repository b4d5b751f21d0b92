package graft

/** Paired same-JVM A/B harness for a runtime SQL conf (r15 optimization
  * round): runs each named query alternating the conf between two values
  * WITHIN one session, pairing arms back-to-back so host drift (the
  * documented steal-storm class) hits both arms of a pair nearly equally.
  * Reports per-pair times and the median paired ratio — the effect-size
  * estimate an unpaired storm-day session cannot give.
  *
  * Usage: runMain graft.ExpPairedConf <confKey> <valA> <valB> <pairs>
  *          <query1,query2,...>
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench's contract).
  */
object ExpPairedConf {
  def main(args: Array[String]): Unit = {
    val Array(key, valA, valB, pairsStr, names) = args
    val pairs = pairsStr.toInt
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    // warm-up (Bench's): codegen + parquet reader + canary JIT
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    names.split(",").map(_.trim).foreach { name =>
      // one unmeasured warm run (builds the shared replay/cache artifacts
      // so neither arm is charged for them)
      spark.conf.set(key, valA)
      run(name)
      val ratios = (1 to pairs).map { i =>
        // alternate arm ORDER each pair to cancel any within-pair trend
        val aFirst = i % 2 == 1
        val (ta, tb) = if (aFirst) {
          spark.conf.set(key, valA); val a = run(name)
          spark.conf.set(key, valB); val b = run(name)
          (a, b)
        } else {
          spark.conf.set(key, valB); val b = run(name)
          spark.conf.set(key, valA); val a = run(name)
          (a, b)
        }
        println(f"[exp] $name pair $i: A($valA)=$ta%.3f B($valB)=$tb%.3f B/A=${tb / ta}%.3f")
        tb / ta
      }.sorted
      val med = ratios(ratios.size / 2)
      println(f"[exp] $name MEDIAN B/A = $med%.3f over $pairs pairs")
    }
    spark.stop()
  }
}
