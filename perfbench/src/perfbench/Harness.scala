package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.{Pipeline, Sessions, Tables}
import graft.streaming.EventsStream

/** Benchmark harness: one Spark session, driven one request per stdin line
  * by `perfbench/run.py`, which owns the op order, the timing window, the
  * answer checks and the metrics. Every reply is one stdout line starting
  * with `@@ ` and holding a JSON object.
  *
  * Each op is timed from outside the program, around two calls: the
  * query function `fn(spark, dir)` (construction, including any eager
  * rounds) and the action that follows it. The action writes every row
  * and column to Spark's `noop` sink, so column pruning cannot drop a
  * query's projection work the way `count()` does. `Pipeline`'s three
  * stages and `EventsStream.prewarmAll` are timed the same way, one span
  * each. A call that throws is timed up to the exception.
  *
  * Answers for the twin check are written as one parquet file per answer
  * under its full `SparkEntry` name, beside an `oracle_sql.json`: the
  * layout `tools/selfcheck.py` reads.
  *
  * Tracing (`trace 1`) drains the listener bus at every layer boundary and
  * keeps spans in memory: pass → op → {construct, action}, and under those
  * the Catalyst phases and the Spark jobs and stages the listeners saw.
  * Untraced requests never drain the bus.
  *
  *   Harness <dataDir> <cores> */
object Harness {
  private val out: PrintStream =
    new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

  // ---- clock -------------------------------------------------------------
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  // ---- counters ----------------------------------------------------------
  private val counterNames = Seq("jobs", "stages", "tasks", "task_busy_ms",
    "task_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "analysis_us",
    "optimization_us", "planning_us")
  private val counters: Map[String, AtomicLong] =
    counterNames.map(_ -> new AtomicLong(0L)).toMap
  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)
  private def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
  private def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a(k)) }

  // ---- spans -------------------------------------------------------------
  final case class Span(id: Long, parent: Long, name: String, start: Long,
      end: Long, op: String, opId: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong(0L)
  @volatile private var tracing = false
  @volatile private var currentSpan = 0L
  @volatile private var currentOp = ""
  @volatile private var currentOpId = 0L
  private val SpanKey = "perfbench.span"
  private def record(parent: Long, name: String, start: Long, end: Long,
      op: String, id: Long = spanIds.incrementAndGet()): Long = {
    if (tracing) spans.add(Span(id, parent, name, start, end, op, currentOpId))
    id
  }

  /** Counts every job, stage and task, and (traced) their spans. Job spans
    * hang under the span the submitting thread named in its local
    * properties; stage spans hang under their job. */
  private object Counting extends SparkListener {
    private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobSpan = new ConcurrentHashMap[Int, Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      if (tracing) {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(0L)
        val id = spanIds.incrementAndGet()
        jobSpan.put(e.jobId, Array(id, parent, e.time * 1000L))
        e.stageIds.foreach(s => stageJob.put(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { a =>
        record(a(1), "spark.job", a(2), e.time * 1000L, currentOp, a(0))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      val si = e.stageInfo
      stageSubmitMs.remove(si.stageId)
      val parent = Option(stageJob.remove(si.stageId)).map(_.longValue).getOrElse(0L)
      for (s <- si.submissionTime; c <- si.completionTime)
        record(parent, "spark.stage", s * 1000L, c * 1000L, currentOp)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val info = e.taskInfo
      add("task_busy_ms", info.duration)
      Option(stageSubmitMs.get(e.stageId)).foreach { s =>
        add("task_wait_ms", math.max(0L, info.launchTime - s.longValue))
      }
      Option(e.taskMetrics).foreach { m =>
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Catalyst phase times of every query execution (traced only). */
  private object Phases extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        val k = s"${phase}_us"
        if (counters.contains(k)) add(k, (s.endTimeMs - s.startTimeMs) * 1000L)
        record(currentSpan, s"catalyst.$phase", s.startTimeMs * 1000L,
          s.endTimeMs * 1000L, currentOp)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- session -----------------------------------------------------------
  private def session(cores: String): SparkSession = {
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // the deployment settings graft.Bench applies
    spark.conf.set("graft.kmv.exact", "0")
    spark.sparkContext.addSparkListener(Counting)
    spark
  }

  // ---- ops ---------------------------------------------------------------
  /** The full `SparkEntry.queries` name of an op (`q01` → `q01_pricing_summary`). */
  private def fullName(op: String): String =
    SparkEntry.queries.keys.find(k => k == op || k.startsWith(op + "_"))
      .getOrElse(throw new IllegalArgumentException(s"unknown op $op"))

  /** Write `df` as one parquet file at `dest/name`, the layout
    * `tools/selfcheck.py` compares with the twin. */
  private def writeAnswer(df: DataFrame, dest: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dest/$name")

  /** `dest/oracle_sql.json`: the DuckDB twin of every answer written to
    * `dest` so far. */
  private val answered = scala.collection.mutable.Map[String, Vector[String]]()
  private def writeOracles(dest: String, names: Seq[String]): Unit = {
    val all = (answered.getOrElse(dest, Vector.empty) ++ names).distinct
    answered(dest) = all
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(dest, "oracle_sql.json"),
      obj(all.map(n => n -> SparkEntry.oracleSql(n)): _*))
  }

  /** Run `body` as a span named `name` under `parent`. Returns its seconds
    * (up to the exception, if it threw), the counter delta over it (traced:
    * after draining the bus) and the error, if any. */
  private def timed(spark: SparkSession, parent: Long, name: String)(body: => Unit)
      : (Double, Map[String, Long], Option[String]) = {
    val id = spanIds.incrementAndGet()
    val prevSpan = currentSpan
    currentSpan = id
    spark.sparkContext.setLocalProperty(SpanKey, id.toString)
    val before = snapshot()
    val t0 = nowUs()
    val n0 = System.nanoTime()
    val error = try { body; None } catch { case NonFatal(e) => Some(err(e)) }
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = nowUs()
    if (tracing) Bus.drain(spark.sparkContext)
    record(parent, name, t0, t1, currentOp, id)
    currentSpan = prevSpan
    spark.sparkContext.setLocalProperty(SpanKey, prevSpan.toString)
    (secs, delta(before, snapshot()), error)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full GCs. A GC lets Spark's ContextCleaner find the
    * shuffles, broadcasts and RDDs no query refers to any more, and it frees
    * them asynchronously, so collect again until the heap stops shrinking. */
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 0
    while (used < prev - (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      prev = used
      used = collect()
      rounds += 1
    }
    used
  }

  private def cleanup(spark: SparkSession): Unit = {
    // release what an op left cached, outside any timed window (as Bench)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  // ---- replies -----------------------------------------------------------
  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case s: String => js(s)
      case m: Map[_, _] => obj(m.toSeq.map { case (a, b) => a.toString -> b }: _*)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    }
    s"${js(k)}:$s"
  }.mkString("{", ",", "}")
  private def reply(kv: (String, Any)*): Unit = out.println("@@ " + obj(kv: _*))
  private def err(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    s"${e.getClass.getSimpleName}: ${m.linesIterator.take(3).mkString(" ")}".take(500)
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, cores) = args
    val spark = session(cores)
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var passSpan = 0L
    var passStart = 0L
    var passName = ""
    def layer(name: String, r: (Double, Map[String, Long], Option[String])): (String, Any) =
      name -> Map("s" -> r._1, "counters" -> r._2, "error" -> r._3.getOrElse(""))
    reply("ready" -> true)
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val w = line.trim.split(" ").toSeq
      w.head match {
        case "trace" =>
          val on = w(1) == "1"
          if (on && !tracing) spark.listenerManager.register(Phases)
          if (!on && tracing) spark.listenerManager.unregister(Phases)
          tracing = on
          reply("trace" -> on)

        case "check" =>
          // the set-up pass: every op's answer, written out for its DuckDB
          // twin. It is untimed warm-up, so the ops run on cores-1 threads;
          // cached data is released only once all of them have finished.
          val dest = w(1)
          val ops = w(2).split(",").toSeq
          val names = ops.map(op => op -> fullName(op)).toMap
          writeOracles(dest, names.values.toSeq)
          val pool = Executors.newFixedThreadPool(math.max(1, cores.toInt - 1))
          val pending = ops.map { op =>
            op -> pool.submit(new Callable[Option[String]] {
              def call(): Option[String] =
                try {
                  writeAnswer(SparkEntry.queries(names(op))(spark, dataDir), dest, names(op))
                  None
                } catch { case NonFatal(e) => Some(err(e)) }
            })
          }
          val errors = pending.flatMap { case (op, f) => f.get().map(op -> _) }
          pool.shutdown()
          cleanup(spark)
          reply("errors" -> errors.toMap, "names" -> names)

        case "pass" =>
          passName = w(1)
          passSpan = spanIds.incrementAndGet()
          Bus.drain(spark.sparkContext)
          passStart = nowUs()
          reply("pass" -> passName, "counters" -> snapshot())

        case "run" =>
          // run <op> [<dataDir> <dest>]: construction, then the noop action,
          // or (with dest) writing the answer for its twin check
          val op = w(1)
          val dir = if (w.size > 2) w(2) else dataDir
          val dest = if (w.size > 3) Some(w(3)) else None
          currentOp = op
          val opSpan = spanIds.incrementAndGet()
          currentOpId = opSpan
          val t0 = nowUs()
          val gc0 = gcMs()
          val name = fullName(op)
          var df: DataFrame = null
          val construct = timed(spark, opSpan, "construct") {
            df = SparkEntry.queries(name)(spark, dir)
            // the query's own plan is analyzed here, when the DataFrame is
            // built; the action's QueryExecution only re-checks it
            if (tracing) df.queryExecution.tracker.phases.get("analysis").foreach { s =>
              add("analysis_us", (s.endTimeMs - s.startTimeMs) * 1000L)
              record(currentSpan, "catalyst.analysis", s.startTimeMs * 1000L,
                s.endTimeMs * 1000L, op)
            }
          }
          val action =
            if (construct._3.nonEmpty) (0.0, Map.empty[String, Long], None)
            else timed(spark, opSpan, "action") {
              dest match {
                case Some(d) =>
                  writeOracles(d, Seq(name))
                  writeAnswer(df, d, name)
                case None => df.write.format("noop").mode("overwrite").save()
              }
            }
          record(passSpan, "op", t0, nowUs(), op, opSpan)
          val gc = gcMs() - gc0
          cleanup(spark)
          val error = construct._3.orElse(action._3)
          reply("ok" -> error.isEmpty, "error" -> error.getOrElse(""), "name" -> name,
            "construct_s" -> construct._1, "action_s" -> action._1, "gc_ms" -> gc,
            "construct" -> construct._2, "action" -> action._2)

        case "tables" =>
          // the table-open layer on its own: Tables.table + .schema per table
          currentOp = "tables"
          currentOpId = 0L
          val r = timed(spark, passSpan, "tables.open") {
            Tables.names.foreach(t => Tables.table(spark, dataDir, t).schema)
          }
          reply("s" -> r._1, "counters" -> r._2, "error" -> r._3.getOrElse(""))

        case "pass_end" =>
          currentOpId = 0L
          record(0L, "pass", passStart, nowUs(), passName, passSpan)
          passSpan = 0L
          Bus.drain(spark.sparkContext)
          reply("heap_mb" -> liveHeap() / 1048576.0, "counters" -> snapshot())

        case "pipeline" =>
          // pipeline <sfDir> <out>: the medallion ETL, one timed span a stage
          val (dir, outDir) = (w(1), w(2))
          currentOp = "pipeline"
          currentOpId = spanIds.incrementAndGet()
          val bronze = timed(spark, 0L, "pipeline.bronze")(Pipeline.bronze(spark, dir, outDir))
          val silver = timed(spark, 0L, "pipeline.silver")(Pipeline.silver(spark, outDir))
          val gold = timed(spark, 0L, "pipeline.gold")(Pipeline.gold(spark, outDir))
          cleanup(spark)
          reply(layer("bronze", bronze), layer("silver", silver), layer("gold", gold))

        case "gold_answers" =>
          // gold_answers <out> <dest>: read the gold tables back from disk and
          // write them under the names of their twins (q08_fact_orders, ...)
          val (outDir, dest) = (w(1), w(2))
          val tables = Seq("q08_fact_orders", "q09_dim_date", "q10_dim_customer",
            "q12_dim_region_nation", "q27_dim_part", "q28_dim_review", "q29_dim_dispute")
          writeOracles(dest, tables)
          val errors = tables.flatMap { n =>
            try {
              writeAnswer(spark.read.parquet(s"$outDir/gold/${n.dropWhile(_ != '_').tail}"), dest, n)
              None
            } catch { case NonFatal(e) => Some(n -> err(e)) }
          }
          reply("errors" -> errors.toMap)

        case "prewarm" =>
          // prewarm <sfDir>: build every stream lineage once, as graft.Bench
          // does under graft.stream.prewarm=1
          currentOp = "prewarm"
          currentOpId = spanIds.incrementAndGet()
          spark.conf.set("graft.stream.prewarm", "1")
          val r = timed(spark, 0L, "streaming.build") {
            EventsStream.prewarmAll(spark, w(1))
          }
          cleanup(spark)
          reply(layer("build", r))

        case "spans" =>
          Bus.drain(spark.sparkContext)
          val lines = spans.asScala.toSeq.sortBy(s => (s.start, s.id)).map { s =>
            obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
              "start_us" -> s.start, "end_us" -> s.end, "op" -> s.op, "op_id" -> s.opId)
          }
          Files.write(Paths.get(w(1)), lines.asJava, StandardCharsets.UTF_8)
          reply("spans" -> lines.size)

        case other =>
          reply("ok" -> false, "error" -> s"unknown request $other")
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
