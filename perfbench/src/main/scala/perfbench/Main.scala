package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}

/** One benchmark operation as it ran: a gate end to end, or one gateway
  * request. Times are `System.nanoTime` readings; `dueNs` is when an
  * open-loop request was scheduled (equal to `startNs` for gates). */
final case class Op(id: String, kind: String, name: String, family: String,
    round: Int, dueNs: Long, startNs: Long, endNs: Long, ok: Boolean,
    error: String = "", extra: Map[String, Any] = Map.empty)

/** Everything a workload hands back to [[Main]]. */
final case class Outcome(ops: Seq[Op], windowNs: (Long, Long),
    layers: Map[String, Double], details: Map[String, Any])

/** Benchmark runner: one JVM per run, one workload per JVM.
  *
  *   Main --workload serve|gates --data <dir> --out <dir>
  *        --seconds <n> --trace 0|1 --seed <n>
  *
  * Writes `<out>/result.json` with the raw per-operation timings, the
  * set-up time and (traced runs) the per-layer metrics, plus the outputs
  * to check under `<out>/dumps`. Metrics and correctness are computed
  * from these files by `perfbench/run.py`. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    val data = a("--data")
    val out = a("--out")
    val seconds = a("--seconds").toDouble
    val traced = a.getOrElse("--trace", "0") == "1"
    val seed = a("--seed").toLong
    new File(out).mkdirs()
    val work = new File(out, "work").getAbsolutePath
    new File(work).mkdirs()

    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // streaming checkpoints stay inside the run directory
      .config("graft.stream.checkpointDir", s"$work/ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.quietBenignWarnFloods()
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.start())

    val ctx = Ctx(spark, data, out, work, seconds, seed, probe)
    val confBefore = spark.conf.getAll
    val outcome = workload match {
      case "serve" => ServeLoad.run(ctx)
      case "gates" => Gates.run(ctx, Gates.curate ++ Gates.stream)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val hygiene = Session.hygiene(spark, confBefore, work)
    probe.foreach(_.stop())
    // what the last gate left in the session's caches depends on the
    // seeded order; the gateway's caches are part of the service
    if (workload == "gates") Gates.clearCaches(spark)
    val retained = Session.retainedHeapMb

    val res = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> (outcome.windowNs._1 - ctx.jvmStartNs) / 1e9,
      "window_s" -> (outcome.windowNs._2 - outcome.windowNs._1) / 1e9,
      "heap_retained_mb" -> retained,
      "ops" -> outcome.ops.map(o => Map[String, Any](
        "id" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "family" -> o.family, "round" -> o.round,
        "due_ms" -> (o.dueNs - outcome.windowNs._1) / 1e6,
        "start_ms" -> (o.startNs - outcome.windowNs._1) / 1e6,
        "end_ms" -> (o.endNs - outcome.windowNs._1) / 1e6,
        "ok" -> o.ok, "error" -> o.error) ++ o.extra),
      "layers" -> (if (traced) outcome.layers ++ hygiene ++
        Map("session.peak_rss_mb" -> Session.peakRssMb) else Map.empty),
      "details" -> outcome.details)
    Files.writeString(Paths.get(out, "result.json"), Json(res))
    spark.stop()
  }
}

/** What every workload needs: the session, its inputs and the clock. */
final case class Ctx(spark: SparkSession, data: String, out: String,
    work: String, seconds: Double, seed: Long, probe: Option[Probe]) {
  /** JVM start on the `nanoTime` clock, for the set-up time. */
  val jvmStartNs: Long = {
    val upMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }
  def dumps: String = s"$out/dumps"
}

/** Session-resource counters, read when a workload ends. */
object Session {
  def hygiene(spark: SparkSession, confBefore: Map[String, String],
      work: String): Map[String, Double] = {
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val after = spark.conf.getAll
    val drift = (confBefore.keySet ++ after.keySet)
      .count(k => confBefore.get(k) != after.get(k))
    val ckpt = new File(work, "ckpt")
    val left = Option(ckpt.listFiles).map(_.length).getOrElse(0)
    Map("session.persisted_mb_end" -> storage / 1e6,
      "session.conf_drift" -> drift.toDouble,
      "session.tmp_dirs_left" -> left.toDouble)
  }

  /** Heap still in use after full collections: what the session holds
    * on to once the workload is done. Spark's cleaner releases shuffle
    * and broadcast state only after a collection finds it unreachable,
    * so collect, give the cleaner time, and collect again. */
  def retainedHeapMb: Double = {
    val rt = Runtime.getRuntime
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  /** The JVM's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb: Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status"))
      val it = l.iterator()
      var kb = 0.0
      while (it.hasNext) {
        val s = it.next()
        if (s.startsWith("VmHWM:"))
          kb = s.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble
      }
      kb / 1024.0
    } catch { case _: Throwable => 0.0 }
}

/** JSON for the files the benchmark writes (Scala maps, sequences and
  * options included). */
object Json {
  val mapper: ObjectMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
