package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch cost profiler for the streaming surface (round-5
  * verdict task 5): runs the named streaming queries and prints each
  * micro-batch's duration breakdown (triggerExecution / addBatch /
  * getBatch / walCommit / stateMemory) from the engine's progress
  * events — the evidence for the "is the floor irreducible engine
  * overhead?" question. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamDiag st04_stream_join"
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.toString).getOrElse("-")
        System.err.println(
          s"[diag] batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
            s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
            s"queryPlanning=${ms("queryPlanning")} " +
            s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
            s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
            s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
      }
    })
    val names = if (args.nonEmpty) args.toSeq else Seq("st04_stream_join")
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      System.err.println(s"[diag] $n total=${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
