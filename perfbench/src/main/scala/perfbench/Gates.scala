package graft.perfbench

import graft.SparkEntry
import graft.sinks.Sinks

import java.io.File
import java.nio.file.{Files, Paths}

/** The `gates` workload: curation and streaming gates of the catalogue
  * run end to end through the library's public entry point
  * (`SparkEntry.queries`), each frame materialized through Spark's `noop`
  * sink.
  *
  * A run is one untimed round that writes every gate's output for the
  * oracle check, [[WarmRounds]] untimed rounds materialized as the timed
  * ones are (the JIT and Spark's caches warm up), then timed rounds of
  * the same gates in a seeded order: `--seconds` over [[RoundS]], less
  * the warm rounds, at least one. The count does not depend on how fast
  * the rounds run, so that a fast run is not also a warmer one.
  * Before each gate the session's cache and the operator memos are
  * cleared, as the catalogue bench does, so that no gate is served by an
  * earlier run of itself. */
object Gates {

  final case class Spec(name: String, family: String)

  /** About how long one round of the gates takes on a 4-core box. */
  val RoundS = 8.0
  /** The first `noop` round of a JVM runs 15-20% slower than the next. */
  val WarmRounds = 1

  /** Dedup, ANN, tokenizer and packing gates, one of each family. Each
    * has an oracle that DuckDB answers in about a second at sf0.1 (the
    * minhash and BPE oracles take minutes, so those gates are left out). */
  val curate: Seq[Spec] = Seq(
    Spec("d_passage_dedup", "dedup"), Spec("s_ann_topk", "ann"),
    Spec("t_wordpiece", "tokenize"), Spec("hb_emit_packed", "pack"))

  /** Two of the catalogue's streaming gates: a windowed aggregation and
    * an `.hb` program over a stream. */
  val stream: Seq[Spec] =
    Seq("st_stream_tumbling", "st_hb_agg").map(Spec(_, "stream"))

  /** Drop the session's cached frames and the operators' memos. */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Dedup.clearPairsMemo()
    graft.operators.Similarity.clearCellModels()
  }

  /** Gates whose output carries the packed-shard layout also go through
    * the shard sink. */
  private def shardable(cols: Seq[String]): Boolean =
    cols.contains("shard") && cols.contains("seq")

  def run(ctx: Ctx, specs: Seq[Spec]): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(ctx.out, "oracle_sql.json"),
      Json(specs.flatMap(s => oracles.get(s.name).map(s.name -> _)).toMap))

    // untimed round: the outputs for the check, and the shard sink warmed
    val dumpErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    specs.foreach { s =>
      clearCaches(spark)
      try {
        val df = fns(s.name)(spark, ctx.data)
        df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.dumps}/${s.name}")
        if (s.family == "pack" && shardable(df.columns.toSeq))
          Sinks.writeShards(df, s"${ctx.work}/shards/${s.name}", "shard", "seq")
      } catch { case e: Throwable => dumpErrors(s.name) = msg(e) }
    }

    // warm rounds: a gate that fails here fails in the timed rounds too,
    // where it is counted
    for (_ <- 0 until WarmRounds; s <- specs) {
      clearCaches(spark)
      try fns(s.name)(spark, ctx.data).write.format("noop")
        .mode("overwrite").save()
      catch { case _: Throwable => }
    }

    val rng = new scala.util.Random(ctx.seed)
    ctx.probe.foreach { p => p.drain(); p.reset() }
    val shardNs = scala.collection.mutable.ArrayBuffer[Long]()
    val shardBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    val rounds =
      math.max(1, math.round(ctx.seconds / RoundS).toInt - WarmRounds)
    val w0 = System.nanoTime()
    for (round <- 0 until rounds) {
      rng.shuffle(specs).foreach { s =>
        clearCaches(spark)
        val id = s"${s.name}#$round"
        sc.setLocalProperty(Probe.OpKey, id)
        val t0 = System.nanoTime()
        val err = try {
          def timed[T](name: String, parent: Int)(f: => T): T =
            Probe.around(ctx.probe, id, name, parent)(_ => f)
          def body(root: Int): Unit = {
            val df = timed("build", root)(fns(s.name)(spark, ctx.data))
            timed("materialize", root)(
              df.write.format("noop").mode("overwrite").save())
            if (s.family == "pack" && shardable(df.columns.toSeq)) {
              val path = s"${ctx.work}/shards/${s.name}"
              val s0 = System.nanoTime()
              timed("sinks.shard", root)(
                Sinks.writeShards(df, path, "shard", "seq"))
              shardNs += System.nanoTime() - s0
              shardBytes += dirBytes(new File(path))
            }
          }
          Probe.around(ctx.probe, id, "op")(body)
          ""
        } catch { case e: Throwable => msg(e) }
        val t1 = System.nanoTime()
        sc.setLocalProperty(Probe.OpKey, null)
        ops += Op(id, "gate", s.name, s.family, round, t0, t0, t1,
          err.isEmpty, err)
      }
    }
    val w1 = System.nanoTime()

    val layers = ctx.probe.map { p =>
      p.drain()
      gateLayers(p, ops.toSeq) ++ Map(
        "sinks.shard_mb" -> shardBytes.sum / 1e6 / rounds,
        "sinks.shard_write_s" -> shardNs.sum / 1e9 / rounds)
    }.getOrElse(Map.empty)
    ctx.probe.foreach(p => writeSpans(ctx, p))
    Outcome(ops.toSeq, (w0, w1), layers,
      Map("rounds" -> rounds, "dump_errors" -> dumpErrors.toMap))
  }

  /** Per-layer metrics of one traced run, per round of the workload. */
  def gateLayers(p: Probe, ops: Seq[Op]): Map[String, Double] = {
    val rounds = (ops.map(_.round).max + 1).toDouble
    val hbOps = ops.filter(o => o.name.startsWith("hb_") ||
      o.name.startsWith("st_hb_")).map(_.id).toSet
    val builds = p.synchronized(p.spans.toSeq)
      .filter(s => s.name == "build" && hbOps(s.op))
    val eager = builds.map { b =>
      p.jobsOf(b.op).count { j =>
        val st = j.startMs * 1000000L
        st >= toWall(b.startNs) && st <= toWall(b.endNs)
      }
    }.sum
    p.sparkLayers(ops,
      ops.filter(_.family == "tokenize").map(_.id).toSet, rounds) ++ Map(
      "hb.compile_ms" ->
        builds.map(b => (b.endNs - b.startNs) / 1e6).sum / rounds,
      "hb.eager_jobs" -> eager / rounds)
  }

  /** `nanoTime` reading → wall-clock nanoseconds (listener times are
    * wall-clock milliseconds). */
  private val wallOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toWall(ns: Long): Long = ns + wallOffsetNs

  def writeSpans(ctx: Ctx, p: Probe): Unit = {
    val spans = p.synchronized(p.spans.toSeq)
    val self = Probe.selfTimesNs(spans)
    Files.writeString(Paths.get(ctx.out, "spans.json"), Json(
      spans.zip(self).zipWithIndex.map { case ((s, st), i) =>
        Map("i" -> i, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
          "self_ms" -> st / 1e6)
      }))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def msg(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}
