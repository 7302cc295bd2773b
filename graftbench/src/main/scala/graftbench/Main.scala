package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Scratch, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark JVM. Arguments are key=value pairs:
  *
  *  - `mode=setup`: build the session, run the fixed warm-up query, print
  *    `READY`.
  *  - `mode=run`: the same set-up; then, if `oracle_queries` is given,
  *    those queries' results on `oracle_data` are written to `oracle_out`
  *    in the layout `tools/check.py` reads (this also warms every query
  *    up); then `passes` timed passes over `queries`, one query at a time.
  *    With `trace=1` there is a discarded warm-up pass and then three
  *    passes, the middle one traced (listeners attached), and the
  *    kernel/expression probes run at the end.
  *
  * Results (raw per-execution timings, fingerprints, layer counters) go
  * to the JSON file `out`; `graftbench/run.py` turns them into metrics.
  */
object Main extends AdaptiveSparkPlanHelper {

  final case class Exec(query: String, pass: Int, traced: Boolean,
                        buildS: Double, planS: Double, actionS: Double, ok: Boolean,
                        error: String, rows: Long, hash: Long, buildSpan: Int, actionSpan: Int,
                        extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val o = args.map { a => val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1) }.toMap
    val spans = new Spans
    val cpus = o("cpus").toInt
    val data = o("data")
    val tMain = spans.now()
    val spark = session(cpus, o("work"))
    val tBuilt = spans.now()
    // the fixed warm-up query of graft.Bench
    SparkEntry.queries("q_metrics")(spark, data).count()
    spark.sqlContext.clearCache()
    Scratch.sweep()
    val tReady = spans.now()
    println("READY")
    System.out.flush()
    val setup = Map("main_entry_ms" -> mainEntryMs, "build_s" -> (tBuilt - tMain) / 1e9,
      "warmup_s" -> (tReady - tBuilt) / 1e9)
    // the oracle-instance dump runs every workload query once before the
    // timed passes, so it is also their (untimed) warm-up
    val oracle = o.get("oracle_queries").map(q =>
      oracleDump(spark, q.split(',').filter(_.nonEmpty).toSeq, o("oracle_data"), o("oracle_out"))).getOrElse(Map.empty)
    val result = Map[String, Any]("setup" -> setup, "oracle" -> oracle) ++ (o("mode") match {
      case "setup" => Map.empty
      case "run" => measure(spark, spans, data, o("queries").split(',').toSeq,
        o("passes").toInt, o("trace") == "1", o.get("spans"))
    })
    spark.stop()
    writeJson(o("out"), result ++ Map("vmhwm_kb" -> vmHwmKb()))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Row count and an order-independent hash of the result rows: each
    * row's UnsafeRow bytes are hashed and the hashes summed. Runs the
    * already-planned physical plan, so planning is not repeated. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("graftbench"))(
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L; var h = 0L
        it.foreach { r =>
          val u = proj(r)
          val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
          val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
          h += (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
          n += 1
        }
        Iterator((n, h))
      }.collect())
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def measure(spark: SparkSession, spans: Spans, data: String, names: Seq[String],
                      passes: Int, trace: Boolean, spansOut: Option[String]): Map[String, Any] = {
    val sc = spark.sparkContext
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val listener = new LayerListener
    val execs = mutable.ArrayBuffer[Exec]()
    val passRecs = mutable.ArrayBuffer[Map[String, Any]]()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    var jvmGc = 0L; var jvmJit = 0L
    val root = spans.open(-1, "run", "run")

    def runPass(p: Int, traced: Boolean): Unit = {
      if (traced) { sc.addSparkListener(listener); spark.streams.addListener(listener.streams) }
      val gc0 = gcMs; val jit0 = jit.getTotalCompilationTime
      val ps = spans.open(root, s"pass$p", "pass")
      fns.foreach { case (name, fn) =>
        sc.setJobDescription(name)
        val qs = spans.open(ps, name, "query")
        var buildS, planS, actionS = 0.0
        var bs, as = -1
        var df: DataFrame = null
        def phase[T](kind: String)(body: => T): (T, Double, Int) = {
          val id = spans.open(qs, kind, kind)
          sc.setLocalProperty(LayerListener.SpanKey, id.toString)
          val t0 = System.nanoTime()
          try (body, (System.nanoTime() - t0) / 1e9, id)
          finally { sc.setLocalProperty(LayerListener.SpanKey, null); spans.close(id) }
        }
        val rec = try {
          val (d, b, bId) = phase("build")(fn(spark, data)); df = d; buildS = b; bs = bId
          val (plan, pl, _) = phase("plan")(df.queryExecution.executedPlan); planS = pl
          val ((rows, hash), a, aId) = phase("action")(fingerprint(df)); actionS = a; as = aId
          Exec(name, p, traced, buildS, planS, actionS, ok = true, null, rows, hash, bs, as,
            if (traced) planStats(df, plan) else Map.empty)
        } catch {
          case e: Throwable =>
            Exec(name, p, traced, buildS, planS, actionS, ok = false,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", 0L, 0L, bs, as, Map.empty)
        }
        execs += rec
        // per-query hygiene, as in graft.Bench
        spark.sqlContext.clearCache()
        Scratch.sweep()
        spans.close(qs)
      }
      spans.close(ps)
      val span = spans.get(ps)
      passRecs += Map("pass" -> p, "traced" -> traced, "wall_s" -> (span.end - span.start) / 1e9,
        "span" -> ps)
      if (traced) {
        jvmGc += gcMs - gc0; jvmJit += jit.getTotalCompilationTime - jit0
        quiesce(listener)
        sc.removeSparkListener(listener); spark.streams.removeListener(listener.streams)
      }
    }

    // traced runs put the traced pass between two untraced ones, so the
    // tracing overhead is not confounded with warm-up drift; a discarded
    // pass first takes them past the steepest part of the JIT warm-up
    if (trace) {
      runPass(0, traced = false)
      execs.clear(); passRecs.clear()
      Seq(false, true, false).zipWithIndex.foreach { case (t, i) => runPass(i + 1, traced = t) }
    } else (1 to passes).foreach(p => runPass(p, traced = false))
    spans.close(root)

    val out = mutable.Map[String, Any]("passes" -> passRecs.toList, "execs" -> execs.map(e => Map(
      "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced, "build_s" -> e.buildS,
      "plan_s" -> e.planS, "action_s" -> e.actionS, "ok" -> e.ok, "error" -> e.error, "rows" -> e.rows,
      "hash" -> e.hash.toString)).toList, "passes_vmhwm_kb" -> vmHwmKb())
    if (trace) {
      val layers = new Layers(spans, listener, execs.filter(_.traced).toList, passRecs.count(_("traced") == true),
        spark.sparkContext.defaultParallelism)
      out("layers") = layers.metrics ++ Map("jvm.gc_ms" -> jvmGc.toDouble / layers.nPasses,
        "jvm.jit_ms" -> jvmJit.toDouble / layers.nPasses, "jvm.heap_peak_mb" -> heapPeakMb()) ++
        Probes.run(spark, data)
      out("absent") = layers.absent
      spansOut.foreach(path => writeJson(path, spans.toJson))
    }
    out.toMap
  }

  /** Counters read from the executed (final, for AQE) physical plan. */
  private def planStats(df: DataFrame, plan: SparkPlan): Map[String, Any] = {
    val t = df.queryExecution.tracker.phases
    def ms(phase: String) = t.get(phase).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    val rbn = exchanges.filter(_.shuffleOrigin == REPARTITION_BY_NUM)
    val spreadParts = 2 * df.sparkSession.sparkContext.defaultParallelism
    val joinRows = nodes.collect { case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
    Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "plan_nodes" -> nodes.size, "exchanges" -> exchanges.size, "repartition_by_num" -> rbn.size,
      "spread_exchanges" -> rbn.count(_.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == spreadParts
        case _ => false
      }),
      "join_rows" -> joinRows)
  }

  /** Wait until the listener bus has delivered every event of the pass:
    * the event count must stay unchanged for a quarter second. */
  private def quiesce(l: LayerListener): Unit = {
    var last = -1L
    while (l.events != last) { last = l.events; Thread.sleep(250) }
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Write each query's result on the oracle instance as parquet, plus
    * `oracle_sql.json`, in the layout graft.Verify produces for tools/check.py. */
  private def oracleDump(spark: SparkSession, names: Seq[String], dir: String, out: String): Map[String, Any] = {
    new java.io.File(out).mkdirs()
    val sql = SparkEntry.oracleSql
    val status = names.map { name =>
      val t0 = System.nanoTime()
      val err = try {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
      spark.sqlContext.clearCache()
      Scratch.sweep()
      name -> Map("error" -> err, "spark_s" -> (System.nanoTime() - t0) / 1e9)
    }.toMap
    writeJson(s"$out/oracle_sql.json", names.flatMap(n => sql.get(n).map(n -> _)).toMap)
    status
  }
}
