package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Tables}

/** One benchmark JVM: `Main <plan.json> <result.json>`.
  *
  * The plan (written by `run.py`) names the workload's fixture tables,
  * warm-up jobs, priming jobs, timed jobs and their reference results. The
  * JVM sets up three times — the cold set-up after JVM start and two
  * repeats in the same JVM (stop the session, build it again, re-open the
  * tables, warm up again) — and runs the untimed priming pass. It then runs
  * the timed passes in a closed loop with one client thread: each job
  * starts after the previous one's result is materialized and checked.
  * Each pass has its own inputs. A traced run's second pass is traced;
  * known-defect probes run after the passes. */
object Main {
  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val traced = plan.get("traced").asBoolean
    val fixture = plan.get("fixture_dir").asText
    val tables = plan.get("tables").elements.asScala.map(_.asText).toSeq
    val warmup = plan.get("warmup").elements.asScala.map(Job.parse).toSeq
    val prime = plan.get("prime").elements.asScala.map(Job.parse).toSeq
    val passList = plan.get("passes").elements.asScala
      .map(_.elements.asScala.map(Job.parse).toIndexedSeq).toIndexedSeq
    val span = new Spans
    val untimedErrors = new JList[String]()

    def untimed(jobs: Jobs, list: Seq[Job]): Unit = list.foreach { j =>
      try jobs.run(j).wrong.foreach(w => untimedErrors.add(s"${j.name}: $w"))
      catch { case e: Throwable => untimedErrors.add(s"${j.name}: ${error(e)}") }
    }

    def setUp(): (SparkSession, JMap[String, Any]) = {
      val (spark, sessionS) = seconds(GraftSession.local())
      val (_, tablesS) = seconds(tables.foreach(t => Tables(spark, fixture, t).schema))
      val (_, warmS) = seconds(untimed(new Jobs(spark, span), warmup))
      (spark, Json.obj("session_s" -> sessionS, "tables_s" -> tablesS, "warmup_s" -> warmS))
    }

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = Clock.nowMs
    val setups = new JList[JMap[String, Any]]()
    var (spark, first) = setUp()
    first.put("setup_s", (Clock.nowMs - jvmStartMs) / 1000)
    first.put("jvm_to_main_s", (mainMs - jvmStartMs) / 1000)
    setups.add(first)
    for (_ <- 1 to 2) {
      spark.stop()
      val t0 = Clock.nowMs
      val (s, phases) = setUp()
      phases.put("setup_s", (Clock.nowMs - t0) / 1000)
      setups.add(phases)
      spark = s
    }

    val (_, primeS) = seconds(untimed(new Jobs(spark, span), prime))

    // A traced run times three passes: untraced, traced (listeners attached,
    // spans recorded), untraced again, so `trace.overhead` compares the
    // traced pass with the two warm passes around it in the same JVM.
    val engine = if (traced) Some(new EngineTrace) else None
    val jobs = new Jobs(spark, span)
    val jobRecs = new JList[JMap[String, Any]]()
    val passes = new JList[JMap[String, Any]]()
    var pass = 0
    while (pass < passList.size) {
      if (traced && pass == 1) {
        val e = engine.get
        spark.sparkContext.addSparkListener(e)
        spark.listenerManager.register(e.queryListener)
        spark.streams.addListener(e.streamListener)
        span.enabled = true
      }
      if (traced && pass == 2) {
        val e = engine.get
        drain(spark, e)
        spark.sparkContext.removeSparkListener(e)
        spark.listenerManager.unregister(e.queryListener)
        spark.streams.removeListener(e.streamListener)
        span.enabled = false
      }
      val cpu0 = JvmStats.processCpuNs()
      val (gcT0, gcC0) = JvmStats.gc()
      val passStart = Clock.nowMs
      passList(pass).zipWithIndex.foreach { case (job, i) =>
        val (gt, gc) = JvmStats.gc()
        val t0 = Clock.nowMs
        val (wrong, flops) =
          try { val o = span("job")(jobs.run(job)); (o.wrong, o.flops) }
          catch { case e: Throwable => (Some("threw " + error(e)), 0.0) }
        val t1 = Clock.nowMs
        val (gt1, gc1) = JvmStats.gc()
        jobRecs.add(Json.obj("name" -> job.name, "pass" -> pass, "index" -> i,
          "start" -> t0, "end" -> t1, "ok" -> wrong.isEmpty, "error" -> wrong.orNull,
          "flops" -> flops, "gc_ms" -> (gt1 - gt), "gc_count" -> (gc1 - gc)))
      }
      val passEnd = Clock.nowMs
      val (gcT1, gcC1) = JvmStats.gc()
      passes.add(Json.obj("start" -> passStart, "end" -> passEnd,
        "cpu_s" -> (JvmStats.processCpuNs() - cpu0) / 1e9,
        "gc_ms" -> (gcT1 - gcT0), "gc_count" -> (gcC1 - gcC0)))
      pass += 1
    }

    val result = Json.obj(
      "setups" -> setups, "prime_s" -> primeS, "untimed_errors" -> untimedErrors,
      "jobs" -> jobRecs, "passes" -> passes,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

    if (traced) {
      result.put("probes", runProbes(spark, plan))
      result.put("spans", span.toJson)
      result.put("engine", engine.get.toJson)
    }
    result.put("peak_rss_mb", JvmStats.peakRssMb())
    Json.write(args(1), result)
    spark.stop()
    System.exit(0)
  }

  private def runProbes(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode)
      : JList[JMap[String, Any]] = {
    val probes = new Probes(spark)
    val out = new JList[JMap[String, Any]]()
    def record(name: String, r: Either[String, Boolean]): Boolean = {
      out.add(Json.obj("name" -> name, "ok" -> r.contains(true),
        "detail" -> r.fold(identity, b => if (b) "ok" else "wrong result")))
      r.contains(true)
    }
    plan.path("probes").elements.asScala.foreach { p =>
      p.get("kind").asText match {
        case "chain" =>
          // depths ascend; stop at the first failure, deeper ones would fail too
          val depths = p.get("depths").elements.asScala.map(_.asInt).toSeq
          depths.forall(d => record(s"delayed_chain_$d", probes.delayedChain(d)))
          depths.forall(d => record(s"graph_chain_$d", probes.graphChain(d)))
        case "cholesky_block_diagonal" =>
          record("cholesky_block_diagonal", probes.blockDiagonalCholesky(p.get("n").asInt, p.get("bs").asInt))
      }
    }
    out
  }

  /** Waits until the listener bus has delivered every event of the traced
    * pass: a marker job's end event arriving proves, by per-queue event
    * order, that all earlier events on the shared queue (Spark jobs,
    * stages, tasks and query executions) were delivered. */
  private def drain(spark: SparkSession, engine: EngineTrace): Unit = {
    spark.sparkContext.setJobGroup("perfbench-drain", "drain marker")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val marker = spark.sparkContext.statusTracker.getJobIdsForGroup("perfbench-drain").max
    val deadline = System.currentTimeMillis() + 10000
    while (engine.lastEndedJob < marker && System.currentTimeMillis() < deadline) Thread.sleep(10)
    // streaming progress travels on its own listener queue
    Thread.sleep(500)
  }
}

/** `Oracles <out.json>`: writes `SparkEntry.oracleSql`, the DuckDB SQL the
  * benchmark uses to derive each fixture job's reference digest. */
object Oracles {
  def main(args: Array[String]): Unit =
    Json.write(args(0), graft.SparkEntry.oracleSql.asJava)
}
