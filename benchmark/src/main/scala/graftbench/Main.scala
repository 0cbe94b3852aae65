package graftbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Runs one workload once and writes its result record (and, traced, its
  * spans) as JSON files. `benchmark/run.py` builds this program, starts it
  * once per run and prints the contract line from the record.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --dir D
  * --spec BENCHMARK.json --out FILE [--trace-out FILE] [--cpus N]
  * [--commit C]`. Every store, view, mirror and index root lives under
  * the fresh directory D; the per-layer metrics and their units come from
  * the spec. */
object Main {
  /** Input sizes per workload, all relative to the engine's own caches:
    * the quad store snapshot cache holds 16 snapshots of up to 1 GiB,
    * the view-store fold cache 8 folds. */
  val ReadCustomers = 1500
  val ReadOrders = 15000
  val ViewCustomers = 1000
  val ViewOrders = 5000

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = a("dir")
    val cpus = a.getOrElse("cpus", "4")
    val spec = PerLayer.fromSpec(a("spec"))

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cpus,
      Map("spark.local.dir" -> s"$dir/spark-local"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = new Tracer(spark, traced)
    val jobs = new JobStats
    val catalyst = new CatalystStats
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(catalyst)
    }
    val (w, inputs) = workload match {
      case "sparql_read" =>
        (new SparqlRead(spark, tracer, seed, dir, ReadCustomers, ReadOrders),
          s"seed $seed: $ReadCustomers customers, $ReadOrders orders")
      case "rdf_update_views" =>
        (new UpdateViews(spark, tracer, seed, dir, ViewCustomers, ViewOrders),
          s"seed $seed: $ViewCustomers customers, $ViewOrders orders")
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    // inputs are not set-up: restart the set-up clock after writing them
    val tPrep = System.nanoTime()
    w.prepare()
    val prepNs = System.nanoTime() - tPrep
    val gcBefore = gcMs()
    val res = Runner.run(w, tracer, seconds, t0 + prepNs)
    val gcDelta = gcMs() - gcBefore
    if (traced) jobs.drain()

    val gauges = runEndGauges(spark, w)
    val e2e = endToEnd(w, res) :+ ("storage_held_mb",
      gauges("spark.storage_mem_bytes") / 1048576.0, "MB")
    val layers =
      if (traced) perLayer(spec, tracer, jobs, catalyst, res, sessionMs,
        gcDelta, gauges ++ w.gauges())
      else Map.empty[String, Double]
    val env = Seq(
      "workload" -> workload, "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "nproc" -> cpus, "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "inputs" -> inputs,
      "commit" -> a.getOrElse("commit", "unknown"))
    val record = Json.mapper.createObjectNode()
    record.put("correct", res.failed == 0)
    record.put("attempted", res.attempted)
    record.put("failed", res.failed)
    val envNode = record.putObject("env")
    env.foreach { case (k, v) => envNode.put(k, v) }
    Json.metrics(record.putObject("end_to_end"), e2e)
    Json.metrics(record.putObject("per_layer"), layers.toSeq.sorted.map {
      case (k, v) => (k, v, spec.unit(k)) })
    Json.mapper.writeValue(new java.io.File(a("out")), record)
    a.get("trace-out").filter(_ => traced).foreach(f =>
      writeTrace(f, tracer, jobs))
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Every end-to-end figure, as (name, value, unit). */
  def endToEnd(w: Workload, r: RunResult): Seq[(String, Double, String)] = {
    def ms(ss: Seq[Sample]) = ss.map(_.ns / 1e6)
    def lat(prefix: String, ss: Seq[Sample]) =
      if (ss.isEmpty) Nil
      else {
        val (tail, pct) = Stats.tail(ms(ss))
        Seq((s"${prefix}_p50_ms", Stats.p50(ms(ss)), "ms"),
          (s"${prefix}_tail_ms", tail, "ms"),
          (s"${prefix}_tail_pct", pct, "%"),
          (s"${prefix}_samples", ss.size.toDouble, "count"))
      }
    val busyS = r.samples.map(_.ns).sum / 1e9
    val reads = r.samples.filter(_.op.read)
    val perKind = r.samples.groupBy(_.op.kind).toSeq.sortBy(_._1).flatMap {
      case (k, ss) => Seq((s"kind.${k}_p50_ms", Stats.p50(ms(ss)), "ms"),
        (s"kind.${k}_samples", ss.size.toDouble, "count")) }
    Seq(("setup_s", r.setupS, "s"),
      ("ops_per_s", r.samples.size / busyS, "1/s"),
      ("disk_bytes_per_user_byte", r.diskBytesMean / r.compactedBytes, "ratio"),
      ("failed_ratio", r.failed.toDouble / r.attempted, "ratio")) ++
      lat("read", reads) ++
      lat("update", r.samples.filter(_.op.kind == "update")) ++ perKind
  }

  /** Gauges read once at run end, after a GC so that released blocks are
    * gone. */
  private def runEndGauges(spark: SparkSession, w: Workload): Map[String, Double] = {
    System.gc()
    Thread.sleep(500)
    val infos = spark.sparkContext.getRDDStorageInfo
    val rt = Runtime.getRuntime
    val (files, bytes) = w.roots.map(Runner.du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    Map("spark.storage_mem_bytes" -> infos.map(_.memSize).sum.toDouble,
      "spark.cached_blocks" -> infos.map(_.numCachedPartitions).sum.toDouble,
      "jvm.heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0,
      "sources.files" -> files.toDouble, "sources.disk_bytes" -> bytes.toDouble)
  }

  private def perLayer(spec: PerLayer, tr: Tracer, jobs: JobStats,
      cat: CatalystStats, r: RunResult, sessionMs: Double, gcDelta: Long,
      gauges: Map[String, Double]): Map[String, Double] = {
    val n = r.samples.size.toDouble
    val spans = tr.spans.toSeq
    val dur = (s: Span) => (s.endNs - s.startNs) / 1e6
    val measured = spans.filter(_.op >= 0)
    val perOp = measured.groupBy(_.name).map { case (k, ss) =>
      s"${k}_ms" -> ss.map(dur).sum / n }
    // set-up steps and cold ops are read once, not per op
    val once = spans.filter(s => s.op < 0 && spec.unit(s"${s.name}_ms") == "ms")
      .groupBy(_.name).map { case (k, ss) => s"${k}_ms" -> ss.map(dur).sum }
    val spanOp = spans.map(s => s.id -> s.op).toMap
    val spanName = spans.map(s => s.id -> s.name).toMap
    val accs = jobs.bySpan.toSeq.filter { case (id, _) =>
      spanOp.getOrElse(id, -1) >= 0 }.map(_._2)
    def sum(f: jobs.Acc => Long) = accs.map(f).sum.toDouble / n
    val measuredJobs = jobs.jobs.toSeq.filter(j => spanOp.getOrElse(j._1, -1) >= 0)
    def jobsIn(p: String => Boolean) = jobs.bySpan.toSeq.collect {
      case (id, a) if spanOp.getOrElse(id, -1) >= 0 &&
        p(spanName(id)) => a.jobs }.sum / n
    // driver time outside jobs: each op's wall minus the union of the
    // intervals of the jobs it caused
    val outside = measured.filter(_.name.startsWith("op.")).map { o =>
      val iv = measuredJobs.filter(j => spanOp(j._1) == o.op)
        .map(j => (j._2, j._3)).sortBy(_._1)
      val covered = iv.foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end)
        else (acc + e - math.max(s, end), e)
      }._1
      math.max(0.0, dur(o) - covered)
    }.sum / n
    val counts = tr.counts.map { case (k, v) =>
      k -> (if (spec.unit(k).endsWith("/op")) v / n else v) }
    val base = spec.units.keys.map(_ -> 0.0).toMap
    base ++ (perOp ++ once ++ counts ++ gauges).filter(kv => base.contains(kv._1)) ++
      cat.since(r.windowStartMs).map { case (k, v) => k -> v / n } ++
      Map("setup.session_ms" -> sessionMs,
        "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
        "spark.tasks" -> sum(_.tasks), "spark.failed_tasks" -> sum(_.failedTasks),
        "spark.job_busy_ms" -> measuredJobs.map(j => j._3 - j._2).sum / n,
        "spark.task_wait_ms" -> sum(_.taskWaitMs),
        "driver.outside_jobs_ms" -> outside,
        "spark.input_bytes" -> sum(_.inputBytes),
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spark.spill_bytes" -> sum(_.spill),
        "spark.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "spark.task_gc_ms" -> sum(_.gcMs),
        "jvm.gc_ms" -> gcDelta / n,
        "rdf.viewstore.sync_jobs" -> jobsIn(_.startsWith("rdf.viewstore.sync")))
  }

  private def writeTrace(file: String, tr: Tracer, jobs: JobStats): Unit = {
    val t0 = tr.spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = tr.spans.map { s =>
      val a = jobs.bySpan.get(s.id)
      val o = Json.mapper.createObjectNode()
      o.put("id", s.id).put("name", s.name).put("op", s.op)
        .put("parent", s.parent).put("start_us", (s.startNs - t0) / 1000)
        .put("end_us", (s.endNs - t0) / 1000)
        .put("jobs", a.map(_.jobs).getOrElse(0L))
        .put("tasks", a.map(_.tasks).getOrElse(0L))
      Json.mapper.writeValueAsString(o)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      lines.mkString("", "\n", "\n"))
  }
}

/** The per-layer metrics a traced run reports, with their units, as
  * `BENCHMARK.json` declares them. A metric a workload never touches reads
  * 0. Times and counts marked `/op` are totals over the measured window
  * divided by its op count; the rest are read once (set-up steps, cold
  * ops, run-end gauges). */
final case class PerLayer(units: Map[String, String]) {
  def unit(name: String): String = units.getOrElse(name, "count")
}

object PerLayer {
  def fromSpec(file: String): PerLayer =
    PerLayer(Json.mapper.readTree(new java.io.File(file)).get("per_layer")
      .elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText)
      .toMap)
}

object Json {
  val mapper = new ObjectMapper()

  /** `{name: {"value": v, "unit": u}}` into `o`; a value that is not a
    * number (no samples) is null. */
  def metrics(o: ObjectNode, ms: Seq[(String, Double, String)]): Unit =
    ms.foreach { case (k, v, u) =>
      val m = o.putObject(k)
      if (v.isNaN || v.isInfinite) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
}
