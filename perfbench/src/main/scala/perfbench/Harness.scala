package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.io.Tables
import graft.plans.PlanAudit
import graft.sources.Sinks

/** Measuring side of the benchmark. `perfbench/run.py` builds this,
  * starts it once per run and turns its raw record into metrics.
  *
  *   --mode run        one workload run: set-up, warm passes, timed passes
  *                     for --seconds, untimed digest pass, record to --out
  *   --mode calibrate  every suite query at --small and --large, traced,
  *                     one JSON line per query to --out
  *   --mode digest     output digests of --queries at --data (twice, and
  *                     once more through a parquet round trip), outputs
  *                     dumped under --dump for the DuckDB oracle compare
  *
  * Layers are timed from here, around the calls into them: the query
  * function (build), `QueryExecution.executedPlan` (plan), executing
  * that same physical plan (exec), and in the etl kind `Sinks` and
  * `Tables` calls. Tracing adds job groups, a listener and a bus drain
  * per query; untraced passes run the same calls without them. */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "run" => new Harness(o).run()
      case "calibrate" => new Harness(o).calibrate()
      case "digest" => new Harness(o).digests()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** The session profile `graft.Bench` measures under. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.plans.ScaleGuard.EnabledKey, "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case d: Digest.Value => json(Map("rows" -> d.rows, "hash" -> d.hash, "columns" -> d.columns))
    case x => json(x.toString)
  }

  def write(path: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)

  /** Reference pipeline outputs appended to embedded Derby in etl runs:
    * query → (table, Derby rendering of the sink DDL). */
  val jdbcSinks: Map[String, (String, String)] = {
    def derby(ddl: String) = Sinks.renderDdl(ddl, {
      case "JSONB" => "VARCHAR(32672)"
      case _ => "VARCHAR(512)"
    })
    Map(
      "q60_team_pipeline" -> ("historic_match" -> derby(Sinks.historicMatchColumnTypes)),
      "q61_ref_pipeline" -> ("ref_historic_match" -> derby(Sinks.refHistoricMatchColumnTypes)))
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

final class Harness(o: Map[String, String]) {
  import Harness._

  private val work = o("work")
  private val cores = o.getOrElse("cores", "4").toInt
  private val etl = o.get("kind").contains("etl")
  private val etlDir = s"$work/etl"
  private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"

  private var spark: SparkSession = _
  private var audit: PlanAudit = _
  private val tracer = new Tracer
  private val plans = new PlanCounter
  private var tracing = false

  private def start(): Unit = {
    spark = session(cores, work)
    audit = PlanAudit.install(spark)
  }

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    if (on) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(plans)
    } else {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(plans)
    }
  }

  private def group(q: String, layer: String): Unit =
    if (tracing) spark.sparkContext.setJobGroup(s"$q|$layer", s"$q $layer")

  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def flush(): Unit = PlanAudit.flush(spark)

  /** Executes the physical plan `qe` already holds, as a Dataset action
    * does, so planning is not repeated inside the timed execution. */
  private def execute(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
  }

  /** One query through every layer of the run's kind. `slot` names the
    * etl output path, so a path is overwritten by different queries (and
    * schemas) from pass to pass. */
  private def runQuery(name: String, dir: String, slot: String)
      : mutable.LinkedHashMap[String, Any] = {
    val r = mutable.LinkedHashMap[String, Any]("name" -> name)
    val cg0 = codegen
    val t0 = System.nanoTime()
    try {
      group(name, "build")
      val tb = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      r("build_ms") = since(tb)
      if (!etl) {
        group(name, "plan")
        val tp = System.nanoTime()
        val qe = df.queryExecution
        qe.executedPlan
        r("plan_ms") = since(tp)
        if (tracing) {
          val ph = qe.tracker.phases
          r("optimize_ms") = ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
          r("physical_ms") = ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
        }
        group(name, "exec")
        val te = System.nanoTime()
        execute(df)
        r("exec_ms") = since(te)
      } else {
        group(name, "sink")
        val path = s"$etlDir/$slot.parquet"
        val tw = System.nanoTime()
        Sinks.writeParquet(df, path)
        r("write_ms") = since(tw)
        r("bytes") = Option(new java.io.File(path).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).map(_.length).sum
        group(name, "read")
        val tr = System.nanoTime()
        val back = Tables.read(spark, etlDir, slot)
        r("read_ms") = since(tr)
        group(name, "exec")
        val te = System.nanoTime()
        val d = Digest.of(back)
        r("exec_ms") = since(te)
        r("digest") = d
        r("rows") = d.rows
        jdbcSinks.get(name).foreach { case (table, ddl) =>
          group(name, "jdbc")
          val tj = System.nanoTime()
          Sinks.writeJdbc(back, derbyUrl, table, ddl, new java.util.Properties())
          r("jdbc_ms") = since(tj)
          r("jdbc_rows") = d.rows
        }
      }
      r("ok") = true
    } catch {
      case NonFatal(e) =>
        r("ok") = false
        r("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    r("wall_ms") = since(t0)
    if (tracing) spark.sparkContext.clearJobGroup()
    // the audit verdict and the trace are read outside the wall clock
    flush()
    val bad = audit.drain() ++ audit.drainErrors()
    if (bad.nonEmpty) {
      r("ok") = false
      r("error") = s"PlanAudit: ${bad.size} finding(s): ${bad.head.take(300)}"
    }
    if (tracing) {
      val cg1 = codegen
      val b = tracer.take(_ == s"$name|build")
      val x = tracer.take(_.startsWith(s"$name|"))
      val (checked, writes) = plans.take()
      r("t") = x ++ Map(
        "build_jobs" -> b("jobs"),
        "infer_jobs" -> b("infer_jobs"),
        "infer_ms" -> b("infer_ms"),
        "action_jobs" -> b("action_jobs"),
        "action_ms" -> b("action_ms"),
        "compiles" -> (cg1._1 - cg0._1).toDouble,
        "compile_ms" -> (cg1._2 - cg0._2) / 1e6,
        "plans_checked" -> checked.toDouble,
        "write_optimize_ms" -> writes.map(_._1).sum,
        "write_physical_ms" -> writes.map(_._2).sum)
    }
    r
  }

  /** Session creation plus a first query, timed. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    start()
    spark.range(1000000).selectExpr("sum(id)").collect()
    execute(SparkEntry.queries("q02_date_window")(spark, o("setup-data")))
    since(t0) / 1e3
  }

  def run(): Unit = {
    val names = o("queries").split(",").toSeq
    val data = o("data")
    val seed = o("seed").toLong
    val traced = o("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up three times; the first is counted from JVM start
    setUp()
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    for (_ <- 1 to 2) { spark.stop(); setups += setUp() }

    // untimed warm passes at the run scale: class loading, the codegen
    // cache and the JIT for the plans the timed passes execute. Spark's
    // driver code keeps getting faster for many passes; three put the
    // timed passes on the flatter part of that curve.
    val cgWarm0 = codegen
    val tw = System.nanoTime()
    for (_ <- 1 to o("warm-passes").toInt)
      names.zipWithIndex.foreach { case (n, i) => runQuery(n, data, s"slot$i") }
    val warmS = since(tw) / 1e3
    val cgWarm1 = codegen

    // timed passes, each in its own seeded order. A run measures whole
    // passes until --seconds have passed and it holds two complete passes
    // and eleven query samples (the tail percentile needs ten beyond it);
    // so on a given box a workload's sample count does not vary with the
    // seed. Only the hard cap ends a pass early.
    val t0 = System.nanoTime()
    val deadline = o("seconds").toDouble * 1e3
    val hardCap = o.getOrElse("cap-seconds", "120").toDouble * 1e3
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    def complete(tr: Boolean) = passes.count(p =>
      p("complete") == true && p("traced") == tr)
    def samples = passes.filter(_("traced") == false)
      .map(_("queries").asInstanceOf[collection.Seq[_]].size).sum
    def enough =
      if (traced) complete(true) >= 2 && complete(false) >= 1
      else complete(false) >= 2 && samples >= 11
    def capped = since(t0) > hardCap
    var k = 0
    while (!capped && !(since(t0) > deadline && enough)) {
      val tr = traced && k % 2 == 0
      setTracing(tr)
      System.gc() // each pass starts from a collected heap
      val order = new scala.util.Random(seed * 1000 + k).shuffle(names)
      val p = mutable.LinkedHashMap[String, Any]("traced" -> tr, "complete" -> false)
      if (tr) p("probe_read_ms") = Harness.tables.map { t =>
        group("probe", "read")
        val tp = System.nanoTime()
        Tables.read(spark, data, t)
        since(tp)
      }
      val qs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
      p("queries") = qs
      passes += p
      val it = order.zipWithIndex.iterator
      while (it.hasNext && !capped) {
        val (n, i) = it.next()
        qs += runQuery(n, data, s"slot$i")
      }
      p("complete") = qs.size == names.size
      if (tr) {
        flush()
        tracer.take(_.startsWith("probe|"))
        p("unattributed_jobs") = tracer.take(_ => true)("jobs")
      }
      k += 1
    }
    setTracing(false)

    // untimed correctness pass: one digest per query at the run scale
    // (etl runs digest every read-back inside the timed passes)
    val digests = mutable.LinkedHashMap.empty[String, Any]
    if (!etl) names.distinct.sorted.foreach { n =>
      digests(n) = try Digest.of(SparkEntry.queries(n)(spark, data))
        catch { case NonFatal(e) => Map("error" -> String.valueOf(e.getMessage).take(300)) }
    }
    flush()
    val auditAfter = audit.drain() ++ audit.drainErrors()

    // noop-write floor, as graft.Bench samples it: a drift flag for the box
    val floor = (1 to 9).map { _ =>
      val tf = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      since(tf)
    }
    // collect, let the context cleaner drop blocks of unreachable RDDs and
    // broadcasts, collect again: what is left is what the session retains
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val conf = spark.conf
    val record = Map(
      "profile" -> Map(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> conf.get("spark.sql.adaptive.enabled"),
        "scale_guard" -> conf.get(graft.plans.ScaleGuard.EnabledKey),
        "codegen_cache" -> conf.get("spark.sql.codegen.cache.maxEntries"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "setup_s" -> setups,
      "warm_s" -> warmS,
      "warm_compiles" -> (cgWarm1._1 - cgWarm0._1),
      "warm_compile_ms" -> (cgWarm1._2 - cgWarm0._2) / 1e6,
      "passes" -> passes,
      "digests" -> digests,
      "audit_after_passes" -> auditAfter.size,
      "floor_noop_ms" -> floor,
      "retained_heap_mb" -> heapMb)
    write(o("out"), json(record))
    spark.stop()
  }

  /** Layer profile of every suite query, for the workload manifest. */
  def calibrate(): Unit = {
    start()
    setTracing(true)
    val out = new java.io.PrintWriter(o("out"))
    try {
      val only = o.get("queries").map(_.split(",").toSet)
      val moduleOf = SparkEntry.queryModules.toSeq.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
      SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n))).foreach { n =>
        val small = (1 to 2).map(_ => runQuery(n, o("small"), "c")).last
        val large = runQuery(n, o("large"), "c")
        out.println(json(Map("name" -> n, "module" -> moduleOf.getOrElse(n, ""),
          "small" -> small, "large" -> large)))
        out.flush()
      }
    } finally out.close()
    spark.stop()
  }

  /** Expected outputs: each digest twice from fresh builds, and once from
    * the parquet the oracle compare reads. */
  def digests(): Unit = {
    start()
    val data = o("data")
    val dump = o("dump")
    val res = o("queries").split(",").toSeq.map { n =>
      n -> (try {
        val a = Digest.of(SparkEntry.queries(n)(spark, data))
        val b = Digest.of(SparkEntry.queries(n)(spark, data))
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dump/$n")
        val c = Digest.of(spark.read.parquet(s"$dump/$n"))
        Map("digest" -> a, "stable" -> (a == b), "parquet_same" -> (a == c))
      } catch { case NonFatal(e) => Map("error" -> String.valueOf(e.getMessage).take(300)) })
    }
    write(s"$dump/oracle_sql.json", json(SparkEntry.oracleSql))
    flush()
    write(o("out"), json(Map("digests" -> res.toMap,
      "audit_findings" -> (audit.drain() ++ audit.drainErrors()))))
    spark.stop()
  }
}
