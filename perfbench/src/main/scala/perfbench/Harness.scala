package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus

import graft.{Engine, SparkEntry}

/** One client thread driving the engine through its public entry points.
  *
  * Usage: `perfbench.Harness <plan.json>`. The plan (written by run.py)
  * names the fixture directory, the core count, the untimed warm-up
  * requests, the timed request sequence with the time limit, whether
  * requests are traced, the queries whose output is checked, and the
  * JSON-lines file the results go to. Each request builds its DataFrame
  * with `SparkEntry.queries(name)(spark, dataDir)` and executes it with a
  * `noop` write. The harness only records; run.py turns the records into
  * metrics.
  */
object Harness {
  private val mapper = new ObjectMapper()

  private def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def treeBytes(dirs: Seq[String]): Long = dirs.map { d =>
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }.sum

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Live driver heap: what a full collection leaves. */
  private def heapAfterGcBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val dataDir = plan.get("data").asText
    val seconds = plan.get("seconds").asDouble
    val traced = plan.get("traced").asBoolean
    val artifactDirs = strings(plan.get("artifact_dirs"))
    val out = Files.newBufferedWriter(Paths.get(plan.get("out").asText))
    def emit(m: java.util.Map[String, Any]): Unit = {
      out.write(mapper.writeValueAsString(m)); out.newLine()
    }

    val spark = Engine.session(master = s"local[${plan.get("cores").asInt}]")
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val tracer = new Tracer
    if (traced) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    def run(req: Long, name: String, phase: String): Unit = {
      val confBefore = spark.conf.getAll
      val (bytesBefore, gcBefore) =
        if (traced) (treeBytes(artifactDirs), gcMs()) else (0L, 0L)
      tracer.current = req
      var error: String = null
      val t0 = nowUs()
      var t1 = t0
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        val df = queries(name)(spark, dataDir)
        t1 = nowUs()
        sc.setLocalProperty(Tracer.PhaseKey, "execute")
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}"
      } finally sc.setLocalProperty(Tracer.PhaseKey, null)
      val t2 = nowUs()
      if (t1 == t0) t1 = t2
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("type", "request"); rec.put("req", req); rec.put("name", name)
      rec.put("phase", phase)
      rec.put("start_us", t0); rec.put("built_us", t1); rec.put("end_us", t2)
      rec.put("ok", error == null); rec.put("error", error)
      val confAfter = spark.conf.getAll
      rec.put("conf_keys_changed",
        (confBefore.keySet ++ confAfter.keySet).count(k => confBefore.get(k) != confAfter.get(k)))
      if (traced) {
        PerfbenchBus.drain(sc)
        tracer.span(req, "request", s"r$req", "", t0, t2)
        tracer.span(req, "build", s"r$req.build", s"r$req", t0, t1)
        tracer.span(req, "execute", s"r$req.execute", s"r$req", t1, t2)
        val c = tracer.countersFor(req)
        val rdds = sc.getRDDStorageInfo
        Seq[(String, Any)](
          "jobs" -> c.jobs, "build_jobs" -> c.buildJobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "run_ms" -> c.runMs, "execute_run_ms" -> c.executeRunMs,
          "cpu_ns" -> c.cpuNs,
          "task_gc_ms" -> c.gcMs, "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
          "input_bytes" -> c.input, "analysis_ms" -> c.analysisMs,
          "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
          "evicted_blocks" -> c.evictedBlocks,
          "artifact_bytes_before" -> bytesBefore,
          "artifact_bytes_after" -> treeBytes(artifactDirs),
          "driver_gc_ms" -> (gcMs() - gcBefore),
          "persisted_rdds" -> rdds.length,
          "persisted_bytes" -> rdds.map(r => r.memSize + r.diskSize).sum
        ).foreach { case (k, v) => rec.put(k, v) }
      }
      emit(rec)
    }

    var req = 0L
    strings(plan.get("warmup")).foreach { name => run(req, name, "warmup"); req += 1 }
    // the timed window runs whole rounds (each a permutation of the menu),
    // starting another while the time limit has not passed
    val windowStart = nowUs()
    val deadline = windowStart + (seconds * 1e6).toLong
    val rounds = strings(plan.get("requests")).grouped(plan.get("round_len").asInt)
    while (rounds.hasNext && nowUs() < deadline)
      rounds.next().foreach { name => run(req, name, "window"); req += 1 }
    val windowEnd = nowUs()
    val hwmKb = vmHwmKb()
    val liveHeap = heapAfterGcBytes()
    if (traced) {
      PerfbenchBus.drain(sc)
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
    }

    // output check: each distinct query once, untimed, written as parquet
    // for the DuckDB oracle comparison run.py makes
    val checkDir = plan.get("check_dir").asText
    val oracles = SparkEntry.oracleSql
    val oracleOut = new java.util.LinkedHashMap[String, String]()
    val rowCounts = new java.util.LinkedHashMap[String, Long]()
    val checkErrors = new java.util.LinkedHashMap[String, String]()
    strings(plan.get("check")).foreach { name =>
      try {
        val dst = s"$checkDir/$name"
        queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(dst)
        oracles.get(name) match {
          case Some(sql) => oracleOut.put(name, sql)
          case None => rowCounts.put(name, spark.read.parquet(dst).count())
        }
      } catch {
        case NonFatal(e) => checkErrors.put(name, s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    mapper.writeValue(new File(s"$checkDir/oracle_sql.json"), oracleOut)

    tracer.spanLines.foreach { l => out.write(l); out.newLine() }
    val summary = new java.util.LinkedHashMap[String, Any]()
    summary.put("type", "summary")
    summary.put("window_start_us", windowStart)
    summary.put("window_end_us", windowEnd)
    summary.put("vmhwm_kb", hwmKb)
    summary.put("heap_after_gc_bytes", liveHeap)
    summary.put("check_rows", rowCounts)
    summary.put("check_errors", checkErrors)
    // queries declared by a standing-artifact store (package graft.sources)
    summary.put("source_queries", queries.collect {
      case (name, fn) if fn.getClass.getName.startsWith("graft.sources.") => name
    }.toList.sorted.asJava)
    emit(summary)
    out.close()
    spark.stop()
  }
}
