package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{SessionTuning, SparkEntry, Tables}
import graft.engine.{MsgPack, ResultCodec, Transport}

/** Closed-loop load generator for what a `Transport.rpc` caller waits
  * for: an in-process `Transport.RpcServer` over `SparkEntry.engineFor`
  * and client threads that each send their next request only after the
  * previous reply arrived. See perfbench/README.md for the workloads and
  * metrics.
  *
  * Usage: RpcBench --workload W --seed N --seconds S --trace 0|1
  *                 --data SFDIR [--spans FILE]
  *
  * The last stdout line starting with `PERFBENCH_RESULT ` is the result
  * object; `PERFBENCH_SUMMARY ` carries the per-run record (failures,
  * set-up phases, interference) that is printed whatever `--trace` is.
  */
object RpcBench {

  final case class Workload(clients: Int, queries: Seq[String])

  // Each list is a few queries so that a run, set-up included, stays
  // under a minute at sf0.1 on 4 cores; README.md gives the reasons.
  val workloads: Map[String, Workload] = Map(
    "construct_serial" -> Workload(1, Seq(
      "ns_sim_mmr_rerank", "ns_embed_hits", "ns_quality_bradley_terry")),
    "bulk_concurrent" -> Workload(3, Seq(
      "window_topk_per_group", "window_lag_lead", "scalar_casts")))

  /** Benchmark-registered handler: a one-row local DataFrame, so its rpc
    * is the transport and Engine-frame floor with no Spark job. */
  val FloorCmd = "perfbench_floor"

  /** One finished rpc; times on the `System.nanoTime` axis. */
  final case class Call(query: String, sn: String, start: Long, end: Long, ok: Boolean) {
    def wall: Double = (end - start) / 1e9
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark leaves non-daemon threads behind; exit explicitly.
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    // JVM start on the nanoTime axis: setup_s runs from here.
    val processStart =
      System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wlName = opts("workload")
    val wl = workloads.getOrElse(wlName, sys.error(s"unknown workload: $wlName"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dataDir = opts("data")
    val cpus = Runtime.getRuntime.availableProcessors

    // Session configured as graft.Bench configures its own.
    val spark = SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionAt = System.nanoTime()
    Tables.registerWithStats(spark, dataDir)
    val tablesAt = System.nanoTime()
    val engine = SparkEntry.engineFor(spark)
    engine.register(FloorCmd) { (s, _, _) =>
      s.createDataFrame(java.util.List.of(Row(1L)), StructType(Seq(StructField("x", LongType))))
    }
    val server = new Transport.RpcServer(engine)
    val clientArgs = Seq(dataDir)

    try {
      // Expected replies, computed in-process through Engine.query: the
      // reference every rpc reply is verified against. This pass is also
      // the warm-up (query code, codegen, msgpack); a longer one does not
      // fit the run's time budget, and jvm.jit_s shows what ramp is left.
      // Only the traced run keeps the rows, to replay the result path.
      val expected: Map[String, (Long, Int, Option[Array[Row]])] = wl.queries.map { q =>
        val rows = engine.query(q, clientArgs).get
        q -> (Digest.of(Digest.wireValue(rows)), rows.length, Option.when(trace)(rows))
      }.toMap
      def verify(q: String, reply: Any): Boolean = reply match {
        case v: Vector[_] => v.length == expected(q)._2 && Digest.of(v) == expected(q)._1
        case _ => false
      }

      /** Closed loops: every client runs whole passes, each a seeded
        * permutation of the workload's queries, until `deadline`; a client
        * always finishes the pass it is in, so every query is sent the same
        * number of times per client. `phase` prefixes the `sn`s; `order`
        * and the seed draw the permutations. */
      def drive(phase: String, order: String, deadline: Long): Vector[Call] = {
        val out = new ConcurrentLinkedQueue[Call]()
        val threads = (0 until wl.clients).map { c =>
          new Thread(() => {
            var pass = 0
            while (pass == 0 || System.nanoTime() < deadline) {
              val rng = new Random(seed * 1000003L + (order.hashCode.toLong << 24) + c * 7919L + pass)
              rng.shuffle(wl.queries).zipWithIndex.foreach { case (q, i) =>
                val sn = s"$phase-s$seed-c$c-p$pass-$i"
                val t0 = System.nanoTime()
                val reply = Transport.rpc(server.port, "perfbench", s"client$c", q, clientArgs, sn)
                val t1 = System.nanoTime()
                val ok = reply.map(verify(q, _)).getOrElse(false)
                if (!ok) log(s"$sn $q failed: ${reply.failed.map(_.toString).getOrElse("wrong result")}")
                out.add(Call(q, sn, t0, t1, ok))
              }
              pass += 1
            }
          }, s"perfbench-client-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        out.asScala.toVector.sortBy(_.start)
      }

      // Memory held once every query has run once, in a fixed order, so
      // that the same work precedes it in every run. The probe is the
      // benchmark's, not set-up: its time is left out of setup_s.
      val expectedAt = System.nanoTime()
      val retained = Probe.retainedMb()
      val probeNs = System.nanoTime() - expectedAt

      val p0 = Probe.now()
      val w0 = System.nanoTime()
      val setupS = (w0 - processStart - probeNs) / 1e9
      val deadline = w0 + (seconds * 1e9).toLong
      val calls = drive("m", "m", deadline)
      val p1 = Probe.now()
      val windowS = (calls.map(_.end).max - w0) / 1e9
      val okWalls = calls.filter(_.ok).map(_.wall)
      val failed = calls.count(!_.ok)
      val host = p0.until(p1)
      // Replies per second of [w0, deadline], when every client is busy; a
      // reply that straddles the deadline counts by its share inside it.
      val replied = calls.filter(_.ok).map { c =>
        math.max(0L, math.min(c.end, deadline) - c.start).toDouble / (c.end - c.start)
      }.sum
      val e2e = Seq(
        ("rpc_p50_s", p50(calls), "s"),
        ("throughput_rps", replied / seconds, "1/s"),
        ("setup_s", setupS, "s"),
        ("retained_mb", retained, "MB"))

      val summary = Seq(
        "workload" -> s""""$wlName"""", "seed" -> seed.toString,
        "clients" -> wl.clients.toString,
        "attempted" -> calls.length.toString, "failed" -> failed.toString,
        "failed_frac" -> metric(failed.toDouble / calls.length, "ratio"),
        "setup_phases_s" -> obj(Seq(
          "session" -> fmt((sessionAt - processStart) / 1e9),
          "tables" -> fmt((tablesAt - sessionAt) / 1e9),
          "expected" -> fmt((w0 - tablesAt - probeNs) / 1e9))),
        "window_s" -> fmt(windowS),
        // Follows G1's heap sizing from run to run; recorded for reading.
        "peak_rss_mb" -> metric(Probe.peakRssMb(), "MB"),
        // Too few samples beyond it to gate on; recorded for reading.
        "rpc_p90_s" -> metric(quantile(okWalls, 0.9), "s"),
        "query_p50_s" -> obj(wl.queries.map { q =>
          q -> fmt(quantile(calls.filter(c => c.ok && c.query == q).map(_.wall), 0.5))
        })) ++
        e2e.map { case (k, v, _) => k -> fmt(v) } ++
        host.toSeq.sortBy(_._1).map { case (k, v) => k -> fmt(v) }
      println("PERFBENCH_SUMMARY " + obj(summary))

      val (metrics, extra) =
        if (!trace) (e2e, Vector.empty[Call])
        else traced(spark, engine, server.port, wl, expected.map { case (q, e) => q -> e._3.get },
          drive, host, opts.get("spans"))
      val allFailed = failed + extra.count(!_.ok)
      val result = obj(Seq(
        "correct" -> (allFailed == 0).toString,
        "attempted" -> (calls.length + extra.length).toString,
        "failed" -> allFailed.toString,
        "metrics" -> obj(metrics.map { case (k, v, u) => k -> metric(v, u) })))
      println("PERFBENCH_RESULT " + result)
    } finally {
      server.close()
      engine.shutdown()
      spark.stop()
    }
  }

  /** Median rpc latency of each query's verified replies, combined by
    * geometric mean, so that every query of the mix moves it, not only
    * the one whose latency is in the middle. */
  private def p50(calls: Seq[Call]): Double = {
    val medians = calls.filter(_.ok).groupBy(_.query).values.map(cs => quantile(cs.map(_.wall), 0.5))
    math.exp(mean(medians.map(math.log).toSeq))
  }

  /** The traced run: one untraced reference pass, then the same pass with
    * the layer wrappers and the per-`sn` listener installed, the transport
    * floor, and a replay of the result path on each query's rows. Returns
    * the per-layer metrics and the calls of both passes. */
  private def traced(
      spark: SparkSession,
      engine: graft.engine.Engine,
      port: Int,
      wl: Workload,
      expectedRows: Map[String, Array[Row]],
      drive: (String, String, Long) => Vector[Call],
      host: Map[String, Double],
      spansOut: Option[String]): (Seq[(String, Double, String)], Vector[Call]) = {
    // One pass per client, the reference for trace.overhead. The traced
    // pass below sends the same permutations.
    val reference = drive("r", "t", 0L)
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    // Same name, same query function, with the layer boundaries stamped:
    // construction is `Q.fn`; planning is forced here so the Engine's
    // `collect` reuses this QueryExecution.
    wl.queries.foreach { name =>
      val q = SparkEntry.catalog(name)
      engine.register(name) { (s, _, args) =>
        val sn = s.sparkContext.getLocalProperty("spark.jobGroup.id")
        val t0 = System.nanoTime()
        val df = q.fn(s, args.head.toString)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        tracer.recordHandler(sn, Tracer.Handler(t0, t1, System.nanoTime()))
        df
      }
    }
    val w0 = System.nanoTime()
    val tracedCalls = drive("t", "t", 0L)
    val calls = tracedCalls.filter(_.ok)
    org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)

    // The floor: serial rpcs of the one-row local handler.
    val floor = (0 until 30).map { i =>
      val t0 = System.nanoTime()
      val r = Transport.rpc(port, "perfbench", "floor", FloorCmd, Nil, s"floor-$i")
      require(r.toOption.contains(Vector(Map("x" -> 1L))), s"floor rpc failed: $r")
      (System.nanoTime() - t0) / 1e9
    }

    // Result path replayed on each query's rows, as the server and the
    // client run it.
    val mb = 1024.0 * 1024.0
    val replay: Map[String, Array[Double]] = wl.queries.map { q =>
      val rows = expectedRows(q)
      val t0 = System.nanoTime()
      val raw = Digest.encodeRows(rows)
      val t1 = System.nanoTime()
      val wire =
        if (raw.length >= engine.config.compressMinBytes) ResultCodec.deflate(raw) else raw
      val t2 = System.nanoTime()
      MsgPack.decode(ResultCodec.decode(wire))
      val t3 = System.nanoTime()
      q -> Array((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        rows.length.toDouble, raw.length / mb, wire.length / mb)
    }.toMap

    final case class Layers(frame: Double, construct: Double, plan: Double, exec: Double,
        execBusy: Double, tail: Double, constructJobs: Int, jobs: Int, a: Tracer.Agg)
    val spans = new StringBuilder
    var spanId = 0
    def span(name: String, s: Long, e: Long, parent: Int, sn: String): Int = {
      spanId += 1
      if (spans.nonEmpty) spans.append(",\n")
      spans.append(obj(Seq("id" -> spanId.toString, "name" -> s""""$name"""",
        "start" -> fmt((s - w0) / 1e9), "end" -> fmt((e - w0) / 1e9),
        "parent" -> (if (parent == 0) "null" else parent.toString), "sn" -> s""""$sn"""")))
      spanId
    }
    val layers = calls.flatMap { c =>
      tracer.handler(c.sn).map { h =>
        val a = tracer.agg(c.sn)
        val jobs = a.jobs.asScala.toVector.map { case (s, e) => (tracer.toNanos(s), tracer.toNanos(e)) }
        val lastEnd = (h.planned +: jobs.map(_._2)).max
        val root = span("rpc", c.start, c.end, 0, c.sn)
        span("engine.frame_wait", c.start, h.entry, root, c.sn)
        val cons = span("queries.construct", h.entry, h.constructed, root, c.sn)
        span("catalyst.plan", h.constructed, h.planned, root, c.sn)
        val exec = span("spark.exec", h.planned, lastEnd, root, c.sn)
        span("result.tail", lastEnd, c.end, root, c.sn)
        jobs.foreach { case (s, e) => span("spark.job", s, e, if (s < h.constructed) cons else exec, c.sn) }
        // Time inside spark.exec that some job of this request was running.
        val busy = jobs.filter(_._2 > h.planned).map { case (s, e) => (math.max(s, h.planned), e) }
          .sortBy(_._1).foldLeft((0L, h.planned)) { case ((sum, reach), (s, e)) =>
            (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
          }._1
        Layers((h.entry - c.start) / 1e9, (h.constructed - h.entry) / 1e9,
          (h.planned - h.constructed) / 1e9, (lastEnd - h.planned) / 1e9, busy / 1e9,
          (c.end - lastEnd) / 1e9, jobs.count(_._1 < h.constructed), jobs.length, a)
      }
    }
    spansOut.foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s"[\n$spans\n]\n")
    }
    def per(f: Layers => Double): Double = mean(layers.map(f))
    def rep(i: Int): Double = mean(calls.map(c => replay(c.query)(i)))
    // The gaps between a request's jobs are the part of the
    // wall no layer claims.
    val covered = per(l => l.frame + l.construct + l.plan + l.execBusy + l.tail)
    val metrics = Seq(
      ("transport.floor_s", quantile(floor, 0.5), "s"),
      ("engine.frame_wait_p50_s", quantile(layers.map(_.frame), 0.5), "s"),
      ("engine.frame_wait_p90_s", quantile(layers.map(_.frame), 0.9), "s"),
      ("queries.construct_s", per(_.construct), "s"),
      ("queries.construct_jobs", per(_.constructJobs), "count"),
      ("catalyst.plan_s", per(_.plan), "s"),
      ("spark.jobs", per(_.jobs), "count"),
      ("spark.stages", per(_.a.stages.get.toDouble), "count"),
      ("spark.tasks", per(_.a.tasks.get.toDouble), "count"),
      ("spark.task_run_s", per(_.a.taskRunMs.get / 1e3), "s"),
      ("spark.task_cpu_s", per(_.a.taskCpuNs.get / 1e9), "s"),
      ("spark.task_gc_s", per(_.a.taskGcMs.get / 1e3), "s"),
      ("spark.shuffle_read_mb", per(_.a.shuffleRead.get / mb), "MB"),
      ("spark.shuffle_write_mb", per(_.a.shuffleWrite.get / mb), "MB"),
      ("spark.spill_mb", per(_.a.spill.get / mb), "MB"),
      ("spark.exec_wall_s", per(_.exec), "s"),
      ("result.tail_s", per(_.tail), "s"),
      ("result.encode_s", rep(0), "s"),
      ("result.deflate_s", rep(1), "s"),
      ("result.decode_s", rep(2), "s"),
      ("result.rows", rep(3), "count"),
      ("result.raw_mb", rep(4), "MB"),
      ("result.wire_mb", rep(5), "MB"),
      ("result.wire_ratio", rep(5) / rep(4), "ratio"),
      ("jvm.jit_s", host("jvm.jit_s"), "s"),
      ("jvm.gc_s", host("jvm.gc_s"), "s"),
      ("jvm.peak_rss_mb", Probe.peakRssMb(), "MB"),
      ("host.steal_s", host("host.steal_s"), "s"),
      ("host.busy_other_s", host("host.busy_other_s"), "s"),
      ("trace.coverage", covered / mean(calls.map(_.wall)), "ratio"),
      ("trace.overhead", p50(tracedCalls) / p50(reference), "ratio"))
    (metrics, reference ++ tracedCalls)
  }

  // Double.toString: locale-independent, full precision.
  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def metric(v: Double, unit: String): String =
    obj(Seq("value" -> fmt(v), "unit" -> s""""$unit""""))

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
}
