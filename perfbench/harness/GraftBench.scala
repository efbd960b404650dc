package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, GraftSession, SparkEntry}
import graft.ml.{Recommender, Sentiment}
import graft.operators.Similarity

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * Drives the engine only through its public calls: `GraftSession`,
  * `SparkEntry.queries`, `Caches`, `Recommender.fit`/`itemIvf`,
  * `Sentiment.fit` and `Similarity.ivfIndex`. With `trace=1` it also
  * attaches a `SparkListener` and a `QueryExecutionListener` and keeps
  * every span, job and planning phase in memory. Everything raw goes
  * to one JSON file; the arithmetic over it lives in `perfbench/stats.py`.
  *
  * Arguments are `key=value`: workload, ops (name@Module,...), fresh,
  * data, work, out, seconds, min_passes, warm_passes, seed, trace, cpus,
  * verified (a file of "name sql-sha256 digest" lines: results that
  * already passed the oracle check).
  */
object GraftBench {

  final case class Op(name: String, module: String)

  // one clock for every harness span: epoch microseconds, monotonic
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  final case class Sample(id: Int, pass: Int, name: String, module: String,
      t0: Long, t1: Long, t2: Long, builds: Seq[(String, Double)],
      ok: Boolean, rows: Long, hash: String, err: String)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val ops = a("ops").split(",").toSeq.map { s => val Array(n, m) = s.split("@"); Op(n, m) }
    val fresh = a("fresh") == "1"
    val data = a("data")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val warmPasses = a("warm_passes").toInt
    val minPasses = a("min_passes").toInt
    val jvmStartUs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime * 1000L

    val samples = mutable.ArrayBuffer.empty[Sample]
    val reference = mutable.Map.empty[String, (Long, String)]
    val lastRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    var nextId = 0
    var aliasN = 0
    var spark: SparkSession = null
    var tracer: Tracer = null

    // a fresh dataset name for the generated tables: a directory of links,
    // so nothing is copied but every per-dataset registry and memo misses
    def newAlias(): String = {
      aliasN += 1
      val dir = work.resolve(s"dataset-$aliasN")
      Files.createDirectories(dir)
      for (f <- new java.io.File(data).listFiles() if f.getName.endsWith(".parquet"))
        Files.createSymbolicLink(dir.resolve(f.getName), f.toPath.toAbsolutePath)
      dir.toString
    }

    // untimed result check: row count plus an order-insensitive hash
    def digest(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(canonRow).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    /** Run one op: construct, execute (collect the result), then check
      * the result, untimed, against the first result of that op. */
    def runOp(op: Op, dir: String, pass: Int): Sample = {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      Caches.drainBuildLog()
      sc.setJobGroup(s"op-$id", op.name)
      val t0 = nowUs
      var t1 = t0
      var result: () => (Long, String) = () => (0L, "")
      var err = ""
      try {
        op.name match {
          case "fit:als" =>
            val m = Recommender.fit(spark, dir); t1 = nowUs
            val n = m.itemFactors.count()
            result = () => (n, s"rank=${m.rank}")
          case "index:items" =>
            val (df, cs) = Recommender.itemIvf(spark, dir); t1 = nowUs
            val n = df.count()
            result = () => (n, s"clusters=${cs.length}")
          case "fit:sentiment" =>
            val m = Sentiment.fit(spark, dir); t1 = nowUs
            result = () => (m.stages.length.toLong, m.stages.map(_.getClass.getSimpleName).mkString("|"))
          case "index:ann" =>
            val (df, cs) = Similarity.ivfIndex(spark, dir); t1 = nowUs
            val n = df.count()
            result = () => (n, s"clusters=${cs.length}")
          case name =>
            val df = SparkEntry.queries(name)(spark, dir); t1 = nowUs
            val rows = df.collect()
            result = () => {
              lastRows(name) = (rows, df.schema)
              (rows.length.toLong, digest(rows))
            }
        }
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val t2 = nowUs
      sc.clearJobGroup()
      val builds = Caches.drainBuildLog()
      var (rows, hash) = (-1L, "")
      if (err.isEmpty) try {
        val (r, h) = result(); rows = r; hash = h
        val ref = reference.getOrElseUpdate(op.name, (r, h))
        if (r <= 0 || ref != ((r, h))) err = s"result $r rows $h, expected ${ref._1} rows ${ref._2}"
      } catch { case e: Throwable => err = s"check: ${e.getMessage}".take(300) }
      if (err.nonEmpty) System.err.println(s"[perfbench] ${op.name} failed: $err")
      Sample(id, pass, op.name, op.module, t0, t1, t2, builds, err.isEmpty, rows, hash, err)
    }

    // one pass: every op once. `fresh`: on a new dataset name, in the
    // listed order (the first queries a new dataset gets); otherwise on
    // the same dataset with the memo layer cleared, in a seeded order.
    var dir = ""
    def pass(p: Int): Seq[Sample] = {
      Caches.clear()
      if (fresh || dir.isEmpty) dir = newAlias()
      val order = if (fresh) ops else new scala.util.Random(seed * 1000003L + p).shuffle(ops)
      order.map(op => runOp(op, dir, p))
    }

    def wallS(ss: Seq[Sample]) = ss.map(s => (s.t2 - s.t0) / 1e6).sum
    // --- set-up, timed from the JVM's start: session start plus
    // `warm_passes` untimed passes, the first on a fresh dataset name,
    // whose dataset then serves the timed loop
    spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (nowUs - jvmStartUs) / 1e6
    val warm = (-warmPasses to -1).flatMap(pass)
    val warmS = wallS(warm)
    samples ++= warm
    val setupS = (nowUs - jvmStartUs) / 1e6
    System.err.println(f"[perfbench] set-up $setupS%.2f s: session $sessionS%.2f s, warm-up $warmS%.2f s")

    // --- timed loop: whole passes, at least `min_passes`, until `seconds`
    // of op time. A traced run alternates untraced and traced passes and
    // ends on an untraced one, so the untraced passes bracket the traced
    // ones and give the tracing overhead free of the warm-up trend.
    if (trace) tracer = new Tracer(spark)
    val traced = mutable.ArrayBuffer.empty[Int]
    var timedWall = 0.0
    var p = 0
    while (timedWall < seconds || p < minPasses || (trace && (p < 3 || p % 2 == 0))) {
      if (trace) {
        if (p % 2 == 1) { tracer.attach(); traced += p } else tracer.detach()
      }
      val ss = pass(p)
      samples ++= ss
      System.err.println(f"[perfbench] pass $p: ${ss.size} ops, ${wallS(ss)}%.2f s")
      timedWall += wallS(ss)
      p += 1
    }
    // what the engine keeps between queries: models, indexes, cached memos
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    // --- oracle outputs: the last checked rows of every oracle-backed op,
    // unless the same SQL and result already passed the oracle check
    val oracle = SparkEntry.oracleSql
    val verified = Files.readAllLines(Paths.get(a("verified"))).asScala.toSet
    val results = Files.createDirectories(work.resolve("results"))
    val oracleNames = ops.map(_.name).distinct.filter(n => oracle.contains(n) && lastRows.contains(n))
    for (n <- oracleNames) {
      val (rows, schema) = lastRows(n)
      if (!verified(s"$n ${sha256(oracle(n))} ${digest(rows)}"))
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(results.resolve(n).toString)
    }
    Files.writeString(results.resolve("oracle_sql.json"),
      oracleNames.map(n => s"${q(n)}:${q(oracle(n))}").mkString("{", ",", "}"))

    val traceJson = if (trace) tracer.finish() else "null"
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    val out = new StringBuilder
    out ++= s"""{"workload":${q(workload)},"seed":$seed,"trace":$trace,"cpus":$cpus,"""
    out ++= s""""heap_mb":$heapMb,"peak_rss_mb":${peakRssMb()},"retained_heap_mb":$retainedMb,"""
    out ++= s""""passes":$p,"traced_passes":${traced.mkString("[", ",", "]")},"setup_s":$setupS,"""
    out ++= s""""session_s":$sessionS,"warmup_s":$warmS,"""
    out ++= s""""trace_data":$traceJson,"samples":["""
    out ++= samples.map { s =>
      s"""{"id":${s.id},"pass":${s.pass},"name":${q(s.name)},"module":${q(s.module)},""" +
        s""""t0":${s.t0},"t1":${s.t1},"t2":${s.t2},"ok":${s.ok},"rows":${s.rows},""" +
        s""""hash":${q(s.hash)},"err":${q(s.err)},"builds":""" +
        s.builds.map { case (k, v) => s"[${q(k)},$v]" }.mkString("[", ",", "]") + "}"
    }.mkString(",\n")
    out ++= "]}\n"
    Files.writeString(Paths.get(a("out")), out.toString)
    spark.stop()
  }

  /** check.py's canonical value rule, per row: doubles rounded to 6
    * decimals, timestamps as their epoch value, columns in name order. */
  def canonRow(r: Row): String = {
    val names = r.schema.fieldNames.zipWithIndex.sortBy(_._1)
    names.map { case (_, i) => canonVal(r.get(i)) }.mkString("\u0001")
  }

  private def canonVal(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => canonVal(f.toDouble)
    case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case s: scala.collection.Seq[_] => s.map(canonVal).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canonVal(k) + ":" + canonVal(x) }.sorted.mkString("{", ",", "}")
    case r: Row => "(" + canonRow(r) + ")"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def sha256(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
}

/** Spark-side spans for the traced run: jobs with their task totals,
  * planning phases, AQE re-plans, SQL executions. All kept in memory
  * until `finish`. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import GraftBench.q

  final class JobRec(val id: Int, val group: String, val exec: String, val start: Long) {
    var end = 0L; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var busyMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var input = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val phases = new ConcurrentLinkedQueue[String]()
  private val aqe = new ConcurrentLinkedQueue[Long]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val sqlExecs = new ConcurrentLinkedQueue[String]()
  @volatile private var events = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val r = new JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse(""), e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
    events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time); events += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
      j.busyMs += e.taskInfo.finishTime - e.taskInfo.launchTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.shuffleR += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
    }
    events += 1
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate => aqe.add(u.executionId); events += 1
    case st: SparkListenerSQLExecutionStart => sqlStart.put(st.executionId, st.time); events += 1
    case en: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(en.executionId)).foreach { t =>
        sqlExecs.add(s"""{"id":${en.executionId},"start":$t,"end":${en.time}}""")
      }
      events += 1
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(s"""{"name":${q(name)},"start":${p.startTimeMs},"end":${p.endTimeMs}}""")
    }
    events += 1
  }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Wait until no listener event arrived for 200 ms (at most 10 s):
    * both buses deliver asynchronously. */
  private def quiesce(): Unit = {
    var last = -1L
    var waited = 0
    while (last != events && waited < 50) { last = events; Thread.sleep(200); waited += 1 }
  }

  def finish(): String = {
    quiesce()
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"group":${q(j.group)},"exec":${q(j.exec)},"start":${j.start},"end":${j.end},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},""" +
        s""""gc_ms":${j.gcMs},"busy_ms":${j.busyMs},"shuffle_w":${j.shuffleW},""" +
        s""""shuffle_r":${j.shuffleR},"spill":${j.spill},"input":${j.input}}"""
    }
    s"""{"jobs":${js.mkString("[", ",\n", "]")},"phases":${phases.asScala.mkString("[", ",\n", "]")},""" +
      s""""aqe_exec_ids":${aqe.asScala.mkString("[", ",", "]")},""" +
      s""""sql_execs":${sqlExecs.asScala.mkString("[", ",\n", "]")}}"""
  }
}
