package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.cache.LineageCache
import graft.hb.{Graft, HbParser}
import graft.server.Gateway
import graft.sinks.Sinks
import graft.sources.Providers

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `serve` workload: an in-process [[Gateway]] with a fresh
  * [[LineageCache]] directory, driven over loopback.
  *
  * The timed window has two parts. The load is open loop: requests fall
  * due at one fixed rate, and one round gives every configuration
  * `PollsPerRound` plain GETs (repeat polls) in a seeded order, with one
  * upload of a new literal followed by a GET (that GET is cold) in its
  * middle; round `r` edits configuration `r % n`. A cold GET holds the
  * single-threaded handler for 0.3-2 s on a 4-core box and every poll
  * that falls due meanwhile waits, so the load edits little enough that
  * the median GET stays a poll while the waits show in the tail. The
  * edit passes then upload and fetch every configuration back to back,
  * in a seeded order, so that each one's cold path is timed with nothing
  * else waiting on it.
  *
  * The configurations are split over `nproc` client threads, each
  * owning a fixed set of configurations and sending its requests in
  * order, so a poll always reads the version its own thread uploaded
  * last. Latency runs from when a request fell due; a cold GET falls due
  * when its upload returns. A connection still busy at a request's due
  * time sends it late, and that wait counts in its latency. */
object ServeLoad {
  /** Requests per second offered to the gateway. */
  val Rate = 26.0
  /** Plain GETs per configuration per round. */
  val PollsPerRound = 40
  /** Share of `--seconds` given to the open-loop load; the rest goes to
    * the edit passes. */
  val LoadShare = 0.35
  /** About how long one edit pass takes on a 4-core box. */
  val PassS = 4.5
  /** Extra uploads of each configuration during set-up, so that the
    * timed cold GETs run on compiled code paths. */
  val WarmEdits = 2
  val MasterKey = "perfbench"

  final case class Cfg(name: String, kind: String, hb: String,
      source: JsonNode, filter: String, lo: Int, hi: Int)

  /** One scheduled request: a poll, or an upload followed by a GET. */
  final case class Ev(dueNs: Long, cfg: Int, upload: Boolean, lit: Int,
      round: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val spec = Json.mapper.readTree(new File(ctx.out, "serve_configs.json"))
    val cfgs = spec.get("configs").asScala.toSeq.map { c =>
      def s(k: String) = Option(c.get(k)).map(_.asText()).getOrElse("")
      Cfg(s("name"), s("kind"), s("hb"), c.get("source"), s("filter"),
        c.get("lo").asInt, c.get("hi").asInt)
    }
    val cacheDir = s"${ctx.work}/lineage"
    val gw = new Gateway(spark, MasterKey, dataDir = ctx.data,
      cache = Some(new LineageCache(spark, cacheDir)))
    val port = gw.start(0)
    val base = s"http://127.0.0.1:$port"
    val auth = "Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$MasterKey:".getBytes(UTF_8))

    // every request on a connection of its own (`http.keepAlive=false`):
    // on a kept-alive connection the gateway's response (headers and body
    // written apart, Nagle on) waits 40 ms for the client's delayed ACK, in
    // stretches whose onset depends on the kernel's ACK heuristics, not on
    // the load
    def send(method: String, path: String, body: String): (Int, String) = {
      val c = new URL(base + path).openConnection()
        .asInstanceOf[HttpURLConnection]
      try {
        c.setRequestMethod(method)
        c.setRequestProperty("Authorization", auth)
        if (method == "PUT") {
          c.setDoOutput(true)
          c.getOutputStream.write(body.getBytes(UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
      } finally c.disconnect()
    }
    def ok(r: (Int, String), what: String): String = {
      if (r._1 != 200)
        throw new IllegalStateException(s"$what -> ${r._1}: ${r._2.take(300)}")
      r._2
    }
    def q(s: String): String = Json.mapper.writeValueAsString(s)

    /** Upload `cfg` with literal `v` (a transformation first for a
      * workbench document). */
    def upload(c: Cfg, v: Int): Unit = c.kind match {
      case "hb" =>
        ok(send("PUT", "/admin/configuration",
          s"""{"name": ${q(c.name)}, "hb": ${q(c.hb.replace("{v}", v.toString))}}"""),
          s"PUT ${c.name}")
      case _ =>
        val t = s"${c.name}_f$v"
        ok(send("PUT", "/admin/transformation",
          s"""{"Name": ${q(t)}, "Statements": [${q(c.filter.replace("{v}", v.toString))}]}"""),
          s"PUT transformation $t")
        ok(send("PUT", "/admin/configuration",
          s"""{"_id": ${q(c.name)}, "source": ${c.source.toString}, "transformations": [${q(t)}]}"""),
          s"PUT ${c.name}")
    }

    // ---- set-up: static operands and `1 + WarmEdits` served versions of
    // every configuration (a cold GET and a poll each)
    spec.get("static").properties().asScala.foreach { e =>
      ok(send("PUT", "/admin/configuration",
        s"""{"name": ${q(e.getKey)}, "hb": ${q(e.getValue.asText())}}"""),
        e.getKey)
    }
    val rng = new scala.util.Random(ctx.seed)
    // a literal is never reused, so every upload derives a new lineage
    // key and the GET after it is cold
    val used = Array.fill(cfgs.size)(mutable.Set[Int]())
    val current = Array.fill(cfgs.size)(0)
    def nextLit(i: Int): Int = {
      val c = cfgs(i)
      require(used(i).size < c.hi - c.lo, s"${c.name} ran out of literals")
      var v = c.lo + rng.nextInt(c.hi - c.lo)
      while (used(i)(v)) v = c.lo + rng.nextInt(c.hi - c.lo)
      used(i) += v
      current(i) = v
      v
    }
    val bodies = mutable.LinkedHashMap[(String, Int), String]()
    for (_ <- 0 to WarmEdits; i <- cfgs.indices) {
      val c = cfgs(i)
      val v = nextLit(i)
      upload(c, v)
      val b = ok(send("GET", s"/data/json/${c.name}", ""), s"GET ${c.name}")
      bodies((c.name, v)) = b
      ok(send("GET", s"/data/json/${c.name}", ""), s"GET ${c.name}")
    }

    // literal each configuration holds when the load starts
    val startLits = current.clone()

    // ---- the load: whole rounds at the fixed rate; round `r` edits
    // configuration `r % n` in its middle
    val polls = cfgs.indices.flatMap(i => Seq.fill(PollsPerRound)((i, false)))
    val perRound = polls.size + 1
    val rounds = math.max(1,
      math.round(ctx.seconds * LoadShare * Rate / perRound).toInt)
    val passes = math.max(1,
      math.round(ctx.seconds * (1 - LoadShare) / PassS).toInt)
    val gapNs = (1e9 / Rate).toLong
    val lanes = Runtime.getRuntime.availableProcessors()
    val evs = (0 until rounds).flatMap { r =>
      val order = rng.shuffle(polls).toBuffer
      order.insert(perRound / 2, (r % cfgs.size, true))
      order.map { case (i, u) => (i, u, r) }
    }.zipWithIndex.map { case ((i, u, r), k) =>
      Ev(k * gapNs, i, u, if (u) nextLit(i) else 0, r)
    }

    ctx.probe.foreach { p => p.drain(); p.reset() }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val seen = new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
    val w0 = System.nanoTime() + 20000000L

    /** One request that fell due at `due`: when `edit`, an upload of
      * literal `v` and then a (cold) GET, else a GET of version `v`. */
    def request(i: Int, edit: Boolean, v: Int, due: Long, round: Int,
        family: String): Unit = {
      val c = cfgs(i)
      val id = s"${c.name}#$family#$round#${(due - w0) / 1000}"
      var getDue = due
      if (edit) {
        val t0 = System.nanoTime()
        val err = try {
          Probe.around(ctx.probe, id + "#put", "server.put")(_ =>
            upload(c, v))
          ""
        } catch { case x: Throwable => Gates.msg(x) }
        val t1 = System.nanoTime()
        results.add(Op(id + "#put", "put", c.name, family, round,
          due, t0, t1, err.isEmpty, err))
        getDue = t1
      }
      val t0 = System.nanoTime()
      val (code, body) =
        try Probe.around(ctx.probe, id, "server.get")(_ =>
          send("GET", s"/data/json/${c.name}", ""))
        catch { case x: Throwable => (-1, Gates.msg(x)) }
      val t1 = System.nanoTime()
      if (code == 200 && edit) seen.putIfAbsent((c.name, v), body)
      results.add(Op(id, if (edit) "cold_get" else "get", c.name,
        family, round, getDue, t0, t1, code == 200,
        if (code == 200) "" else s"$code ${body.take(300)}",
        Map("lit" -> v, "digest" -> sha(body), "bytes" -> body.length)))
    }

    // each client thread waits for its own requests' due times itself: a
    // hand-off from a dispatcher thread would add a thread wake-up to
    // every latency
    val pool = Executors.newFixedThreadPool(lanes)
    evs.groupBy(_.cfg % lanes).values.foreach { mine =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val ver = startLits.clone()
          mine.foreach { e =>
            val due = w0 + e.dueNs
            var now = System.nanoTime()
            if (now < due) {
              while (now < due) {
                val ms = (due - now) / 1000000L
                if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
                now = System.nanoTime()
              }
              late.add(now - due)
            }
            if (e.upload) ver(e.cfg) = e.lit
            request(e.cfg, e.upload, ver(e.cfg), due, e.round, "load")
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(170, TimeUnit.SECONDS)

    // ---- the edits: every configuration uploaded anew and fetched, back
    // to back, in a seeded order, `passes` times
    for (pass <- 0 until passes; i <- rng.shuffle(cfgs.indices.toVector))
      request(i, edit = true, nextLit(i), System.nanoTime(), pass, "edits")
    val w1 = System.nanoTime()
    val ops = results.asScala.toSeq.sortBy(_.dueNs)

    seen.asScala.foreach { case (k, b) => bodies(k) = b }
    bodies.foreach { case ((n, v), b) =>
      val f = Paths.get(ctx.dumps, "serve", s"$n@$v.json")
      Files.createDirectories(f.getParent)
      Files.writeString(f, b)
    }
    val lateMs = late.asScala.map(_ / 1e6).toSeq.sorted
    val layers = ctx.probe.map(p => serveLayers(ctx, p, ops, cfgs, cacheDir))
      .getOrElse(Map.empty)
    ctx.probe.foreach(p => Gates.writeSpans(ctx, p))
    gw.stop()
    Outcome(ops, (w0, w1), layers, Map(
      "rounds" -> rounds, "passes" -> passes,
      "generator_late_ms_max" -> lateMs.lastOption.getOrElse(0.0)))
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** Per-layer metrics of a traced serve run. Spark jobs started on the
    * gateway's handler thread carry no operation property, so they go to
    * the request whose window holds them (the oldest one still open:
    * the handler serves requests in arrival order). The `.hb` layers and
    * JSON rendering are then timed once per configuration by calling
    * them directly, outside the load window. */
  def serveLayers(ctx: Ctx, p: Probe, ops: Seq[Op], cfgs: Seq[Cfg],
      cacheDir: String): Map[String, Double] = {
    p.drain()
    val wins = ops.map(o => (o.id, Gates.toWall(o.startNs) / 1000000L,
      Gates.toWall(o.endNs) / 1000000L)).sortBy(_._2)
    p.attributeByWindow(wins)
    val rounds = (ops.map(_.round).max + 1).toDouble
    val gets = ops.filter(o => o.kind != "put")
    val zero = gets.filter(o => p.jobsOf(o.id).isEmpty)
    def p50(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val window = p.sparkLayers(ops, Set.empty, rounds) ++ Map(
      "server.hit_get_p50_ms" -> p50(zero.map(o => (o.endNs - o.startNs) / 1e6)),
      "server.put_p50_ms" -> p50(ops.filter(_.kind == "put")
        .map(o => (o.endNs - o.startNs) / 1e6)),
      "cache.gets" -> gets.size.toDouble,
      "cache.zero_job_gets" -> zero.size.toDouble,
      "cache.zero_job_get_ratio" -> zero.size.toDouble / gets.size,
      "cache.entries" -> Option(new File(cacheDir).listFiles)
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble,
      "cache.mb_written" -> Gates.dirBytes(new File(cacheDir)) / 1e6,
      "sinks.response_kb" -> gets.map(o =>
        o.extra.getOrElse("bytes", 0).asInstanceOf[Int].toDouble).sum /
        1e3 / gets.size)

    // direct calls into the layers, once per `.hb` configuration
    val parse = mutable.ArrayBuffer[Double]()
    val compile = mutable.ArrayBuffer[Double]()
    val json = mutable.ArrayBuffer[Double]()
    var eager = 0
    val spark = ctx.spark
    cfgs.filter(_.kind == "hb").foreach { c =>
      val id = s"layers:${c.name}"
      val text = c.hb.replace("{v}", c.lo.toString)
      spark.sparkContext.setLocalProperty(Probe.OpKey, id)
      p.span(id, "op") { root =>
        val t0 = System.nanoTime()
        val prog = p.span(id, "hb.parse", root)(_ => HbParser.parse(text))
        val t1 = System.nanoTime()
        val df = p.span(id, "hb.compile", root)(_ =>
          Graft.run(prog, Providers.fromHeader(spark, prog.header, ctx.data,
            resolveEnv = false)))
        val t2 = System.nanoTime()
        p.drain()
        eager += p.jobsOf(id).size
        val local = spark.createDataFrame(df.collectAsList(), df.schema)
        val t3 = System.nanoTime()
        p.span(id, "sinks.json", root)(_ =>
          Sinks.rowObjectsJson(local).collect())
        val t4 = System.nanoTime()
        parse += (t1 - t0) / 1e6
        compile += (t2 - t1) / 1e6
        json += (t4 - t3) / 1e6
      }
      spark.sparkContext.setLocalProperty(Probe.OpKey, null)
    }
    window ++ Map(
      "hb.parse_ms" -> p50(parse.toSeq),
      "hb.compile_ms" -> p50(compile.toSeq),
      "hb.eager_jobs" -> eager.toDouble,
      "sinks.json_ms" -> p50(json.toSeq))
  }
}
