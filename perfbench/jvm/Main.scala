package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.{CanonFp, HashImpls, QualityScan, TextScrub, TokenImpls}

/** JVM side of the benchmark: one closed-loop client over one workload.
  *
  * Arguments (all required, `--warm` once per warm pass):
  *   --data DIR --out DIR --plan kind,kind,.. --trace 0|1 --cold q,q,..
  *   --warm q,q,.. [--warm ..] [--traced-passes i,j,..]
  *
  * `--plan` lists the sessions, opened one after another (see "the plan"
  * below); `--cold` is the order of every cold pass. The first session's
  * pass is the reference every other execution's digest is compared
  * with. In a traced run the last session-cold pass and the listed warm
  * passes are traced.
  *
  * Writes DIR/result.json (raw samples; run.py derives the metrics),
  * DIR/spans.jsonl in a traced run, and DIR/check/<query>/ parquet with
  * each oracle-checked query's first cold result beside
  * DIR/check/oracle_sql.json, the layout `tools/check_oracle.py` reads.
  */
object Main {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def parse(args: Array[String]): Map[String, Seq[String]] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toSeq.groupMap(_._1)(_._2)

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  // ---- host noise (attribution only) ----
  // 64 MB; released before the heap reading so it never counts in it
  private var canaryArr: Array[Long] = null
  @volatile private var canarySink = 0L
  /** Wall ms of a fixed memory-bandwidth-bound walk: two passes touching
    * one long per cache line of a 64 MB array. */
  def canaryMs(): Double = {
    if (canaryArr == null) canaryArr = Array.tabulate(8 * 1024 * 1024)(_.toLong)
    val a = canaryArr
    val t0 = System.nanoTime()
    var s = 0L
    var pass = 0
    while (pass < 2) {
      var i = 0
      while (i < a.length) { s += a(i); i += 8 }
      pass += 1
    }
    canarySink = s
    ms(t0, System.nanoTime())
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val dir = o("data").head
    val out = Paths.get(o("out").head)
    val traced = o("trace").head == "1"
    val tracedPasses = o.getOrElse("traced-passes", Nil)
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.toInt).toSet
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(traced)
    val untraced = new Tracer(false)
    val res = new Json
    Files.createDirectories(out)

    // ---- set-up: the README front door, then the workload's tables ----
    var spark: SparkSession = null
    def sc = spark.sparkContext
    def setup(i: Int): Double = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      tracer.qid = "setup"; tracer.pass = -i
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = tracer.span("session.build")(GraftSession.build(s"local[$cores]", cores))
        val t = Tables(spark, dir)
        TableNames.foreach(n => tracer.span("tables.open")(t.table(n)))
      }
      ms(t0, System.nanoTime())
    }
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql

    val qListener = new QueryListener
    val sListener = new StreamListener
    val threads = ManagementFactory.getThreadMXBean
    if (traced && threads.isThreadContentionMonitoringSupported)
      threads.setThreadContentionMonitoringEnabled(true)
    val me = Thread.currentThread().getId

    /** One timed execution: construct the DataFrame, then run its whole
      * physical plan, folding every output row into the result digest.
      * With `keep`, the rows are also returned for the oracle check. */
    def execute(q: String, session: Int, pass: Int, trace: Boolean, keep: Boolean)
        : (String, Option[(StructType, Array[InternalRow])]) = {
      val tr = if (trace) tracer else untraced
      tracer.qid = q; tracer.pass = pass
      val key = s"$session:$pass:$q"
      if (trace) {
        sc.setLocalProperty(QueryListener.QidKey, key)
        sc.setLocalProperty(QueryListener.PhaseKey, "construct")
      }
      val rec = new Json
      rec.str("q", q).int("session", session).int("pass", pass).bool("traced", trace)
      var kept: Option[(StructType, Array[InternalRow])] = None
      val t0 = System.nanoTime()
      try {
        tr.span("query") {
          val df = tr.span("construct")(queries(q)(spark, dir))
          if (trace) sc.setLocalProperty(QueryListener.PhaseKey, "exec")
          val qe = df.queryExecution
          if (trace) {
            tr.span("plan.optimized")(qe.optimizedPlan)
            tr.span("plan.executed")(qe.executedPlan)
          }
          val schema = df.schema
          val digest = tr.span("exec") {
            if (keep) {
              val rows = qe.toRdd.map(_.copy()).collect()
              kept = Some((schema, rows))
              Digest.of(rows.iterator, schema)
            } else
              Digest.combine(qe.toRdd.mapPartitions(it =>
                Iterator.single(Digest.of(it, schema))).collect())
          }
          rec.num("ms", ms(t0, System.nanoTime())).str("digest", Digest.show(digest))
          if (trace) {
            val ph = qe.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { p =>
              rec.num(s"plan_${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
            }
          }
        }
      } catch {
        case NonFatal(e) =>
          rec.num("ms", ms(t0, System.nanoTime()))
            .str("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      if (trace) {
        SparkAccess.drainListeners(sc)
        val c = qListener.take(key, "construct")
        val x = qListener.take(key, "exec")
        val s = sListener.take()
        rec.int("construct_jobs", c.jobs).int("jobs", x.jobs).int("stages", x.stages)
          .int("tasks", x.tasks).num("task_run_ms", x.runMs.toDouble)
          .num("task_cpu_ms", x.cpuNs / 1e6).num("task_gc_ms", x.gcMs.toDouble)
          .num("shuffle_write_b", x.shuffleWrite.toDouble)
          .num("shuffle_read_b", x.shuffleRead.toDouble)
          .num("spill_b", x.spill.toDouble)
          .num("input_b", (x.inputBytes + c.inputBytes).toDouble)
          .num("straggler_ratio", x.stragglerRatio)
          .int("stream_batches", s.batches)
          .arr("stream_batch_ms", s.batchMs.map(v => Json.num(v.toDouble)))
          .num("stream_commit_ms", s.commitMs.toDouble)
          .num("stream_state_rows", s.lastStateRows.values.sum.toDouble)
          .arr("stream_input_rows_per_s", s.inputRowsPerS.map(Json.num))
        sc.setLocalProperty(QueryListener.QidKey, null)
        sc.setLocalProperty(QueryListener.PhaseKey, null)
      }
      (rec.render, kept)
    }

    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    val execs = mutable.ArrayBuffer.empty[String]
    val canary = mutable.ArrayBuffer.empty[Double]
    def withListeners[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        sc.addSparkListener(qListener)
        spark.streams.addListener(sListener)
        try body
        finally {
          SparkAccess.drainListeners(sc)
          sc.removeSparkListener(qListener)
          spark.streams.removeListener(sListener)
        }
      }

    // ---- warm passes, in whichever session the plan gives them ----
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val alloc = threads.asInstanceOf[com.sun.management.ThreadMXBean]
    val jvm = new Json
    val jit = ManagementFactory.getCompilationMXBean
    val classes = ManagementFactory.getClassLoadingMXBean
    def warmPasses(session: Int): Unit =
      o.getOrElse("warm", Nil).zipWithIndex.foreach { case (order, i) =>
        val pass = i + 1
        val tr = traced && tracedPasses.contains(pass)
        canary += canaryMs()
        val gc0 = gcBeans.map(b => (b.getCollectionCount, b.getCollectionTime))
        val a0 = alloc.getTotalThreadAllocatedBytes
        val b0 = if (tr) threads.getThreadInfo(me).getBlockedTime else 0L
        val j0 = jit.getTotalCompilationTime
        val k0 = classes.getTotalLoadedClassCount
        val t0 = System.nanoTime()
        withListeners(tr) {
          order.split(",").foreach(q => execs += execute(q, session, pass, tr, keep = false)._1)
        }
        val wall = ms(t0, System.nanoTime())
        if (tr) {
          val gc1 = gcBeans.map(b => (b.getCollectionCount, b.getCollectionTime))
          jvm.obj(pass.toString, new Json()
            .num("wall_ms", wall)
            .num("gc_count", gc1.zip(gc0).map { case (a, b) => a._1 - b._1 }.sum.toDouble)
            .num("gc_ms", gc1.zip(gc0).map { case (a, b) => a._2 - b._2 }.sum.toDouble)
            .num("alloc_b", (alloc.getTotalThreadAllocatedBytes - a0).toDouble)
            .num("jit_ms", (jit.getTotalCompilationTime - j0).toDouble)
            .num("classes_loaded", (classes.getTotalLoadedClassCount - k0).toDouble)
            .num("blocked_ms", (threads.getThreadInfo(me).getBlockedTime - b0).toDouble))
        }
      }

    // ---- the plan: sessions one after another, each set up afresh ----
    // A session's kind says what runs in it: `ref` the JVM's first pass
    // over the mix (the reference results), `setup` nothing, `cold` a
    // session-cold pass; `+warm` then runs the warm passes in it.
    val plan = o("plan").head.split(",").toSeq
    val lastCold = plan.lastIndexWhere(_.startsWith("cold"))
    val setupMs, refMs, coldMs = mutable.ArrayBuffer.empty[Double]
    plan.zipWithIndex.foreach { case (kind, idx) =>
      val i = idx + 1
      setupMs += setup(i)
      val ref = kind.startsWith("ref")
      if (ref || kind.startsWith("cold")) {
        val trace = traced && idx == lastCold
        canary += canaryMs()
        val coldRows = mutable.LinkedHashMap.empty[String, (StructType, Array[InternalRow])]
        val t0 = System.nanoTime()
        withListeners(trace) {
          o("cold").head.split(",").foreach { q =>
            val (rec, kept) = execute(q, i, 0, trace, keep = ref && oracles.contains(q))
            execs += rec
            kept.foreach(coldRows(q) = _)
          }
        }
        (if (ref) refMs else coldMs) += ms(t0, System.nanoTime())
        if (ref) {
          res.num("tmp_bytes_after_cold", dirBytes(tmpDir).toDouble)
          // outside any timed window: persist the cold results for the oracle
          val checkDir = Files.createDirectories(out.resolve("check"))
          coldRows.foreach { case (q, (schema, rows)) =>
            val conv = CatalystTypeConverters.createToScalaConverter(schema)
            val ext = rows.toSeq.map(r => conv(r).asInstanceOf[Row])
            spark.createDataFrame(ext.asJava, schema).coalesce(1).write
              .mode("overwrite").parquet(checkDir.resolve(q).toString)
          }
          Files.writeString(checkDir.resolve("oracle_sql.json"),
            coldRows.keys.foldLeft(new Json)((j, q) => j.str(q, oracles(q))).render)
        }
      }
      if (kind.endsWith("+warm")) warmPasses(i)
    }
    res.arr("setup_ms", setupMs.map(Json.num))
    res.arr("ref_pass_ms", refMs.map(Json.num))
    res.arr("cold_pass_ms", coldMs.map(Json.num))
    canary += canaryMs()
    canaryArr = null
    res.raw("execs", execs.mkString("[", ",\n", "]"))
    res.arr("canary_ms", canary.map(Json.num))
    if (traced) {
      res.obj("jvm_passes", jvm)
      res.obj("kernels", kernels(spark, dir, tracer))
    }

    // ---- end of run: retained heap, peak RSS ----
    // Queued listener events hold task metrics and plans until delivered,
    // and Spark's ContextCleaner frees broadcast and shuffle blocks on its
    // own thread only after a GC has found them: drain, then GC until the
    // heap stops shrinking (three to ten readings) and keep the least.
    SparkAccess.drainListeners(sc)
    val heap = ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Double = {
      System.gc()
      Thread.sleep(300)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var readings = Vector.fill(3)(usedAfterGc())
    while (readings.size < 10 && readings.last < readings(readings.size - 2) - 0.5)
      readings :+= usedAfterGc()
    res.num("retained_heap_mb", readings.min)
    res.num("peak_rss_mb", peakRssMb())
    res.int("cores", cores)
    Files.writeString(out.resolve("result.json"), res.render)
    if (traced) {
      val lines = tracer.spans.map { s =>
        new Json().int("id", s.id).str("name", s.name).num("start", s.start.toDouble)
          .num("end", s.end.toDouble).int("parent", s.parent).str("qid", s.qid)
          .int("pass", s.pass).render
      }
      Files.writeString(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** Single-thread throughput of the engine's row kernels over the
    * documents' text, in MB of text per second: after 300 ms of untimed
    * sweeps, the median of five timed sweeps, each repeated until it has
    * run for 100 ms. */
  private def kernels(spark: SparkSession, dir: String, tracer: Tracer): Json = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val toks = texts.map(t => new GenericArrayData(
      t.toString.split(" ").map(w => UTF8String.fromString(w): Any)))
    val mb = texts.map(_.numBytes.toLong).sum / 1048576.0
    @volatile var sink: Any = null
    val ks: Seq[(String, Int => Any)] = Seq(
      "minhash" -> (i => HashImpls.minhashNgrams(toks(i), 3, 32, 42L)),
      "simhash" -> (i => HashImpls.simhash64(toks(i))),
      "winnow" -> (i => HashImpls.winnowMd5Fps(texts(i), 16, 8)),
      "quality_scan" -> (i => QualityScan.qualityScan(texts(i))),
      "canon_fp" -> (i => CanonFp.canonFp(texts(i))),
      "pii_scan" -> (i => TextScrub.piiScan(texts(i))),
      "bpe" -> (i => TokenImpls.bpeStats(texts(i))))
    val res = new Json
    tracer.qid = "kernels"; tracer.pass = 0
    def sweep(f: Int => Any): Unit = {
      var i = 0
      while (i < texts.length) { sink = f(i); i += 1 }
    }
    ks.foreach { case (name, f) =>
      val warm0 = System.nanoTime()
      while (System.nanoTime() - warm0 < 300000000L) sweep(f) // let the JIT compile it
      val rates = (1 to 5).map { _ =>
        tracer.span(s"kernel.$name") {
          val t0 = System.nanoTime()
          var sweeps = 0
          while (sweeps == 0 || System.nanoTime() - t0 < 100000000L) {
            sweep(f)
            sweeps += 1
          }
          sweeps * mb / ((System.nanoTime() - t0) / 1e9)
        }
      }.sorted
      res.num(name, rates(2))
    }
    res
  }
}

/** Minimal JSON object writer (the JVM side needs no parser). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def put(k: String, v: String): Json = { fields += Json.quote(k) + ":" + v; this }
  def str(k: String, v: String): Json = put(k, Json.quote(v))
  def num(k: String, v: Double): Json = put(k, Json.num(v))
  def int(k: String, v: Long): Json = put(k, v.toString)
  def bool(k: String, v: Boolean): Json = put(k, v.toString)
  def arr(k: String, vs: Iterable[String]): Json = put(k, vs.mkString("[", ",", "]"))
  def obj(k: String, v: Json): Json = put(k, v.render)
  def raw(k: String, v: String): Json = put(k, v)
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
