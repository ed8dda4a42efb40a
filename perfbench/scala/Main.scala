package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. perfbench/run.py builds and
  * launches it, applies the DuckDB oracle to the dumped query results and
  * prints the result line.
  *
  * Sequence: three set-ups (session start plus input registration; the
  * first counts from JVM start), a warm-up pass, the timed passes, then
  * the checks. A traced run adds a second, traced body after the
  * untraced one and reports per-layer metrics from it.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val tmp = Paths.get(a("tmp"))
    val out = Paths.get(a("out"))
    val sf = a("sf")
    val load1Start = Host.load1()

    val phases = mutable.LinkedHashMap("jvm_start" -> (Clock.nowMs - jvmStartMs) / 1000)
    def phase[T](name: String)(body: => T): T = {
      val t0 = Clock.nowMs
      try body
      finally phases(name) = phases.getOrElse(name, 0.0) + (Clock.nowMs - t0) / 1000
    }
    val w = Workloads(workloadName, sf)
    phase("generate")(w.generate(seed, new Inputs(if (a("smoke") == "1") 20 else 1)))
    Host.clockTicks = a("clk-tck").toDouble
    val tracer = new Tracer(s"$workloadName-$seed-${ProcessHandle.current().pid()}", traced)
    val extraConf = Map(
      "spark.local.dir" -> tmp.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> tmp.resolve("warehouse").toString)

    // set-up, several times: the median is the reported setup_s
    var spark: SparkSession = null
    val setups = phase("setups")((0 until SetupReps).map { i =>
      if (spark != null) phase("stop") {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStartMs else Clock.nowMs
      tracer.span("setup") {
        val s0 = Clock.nowMs
        spark = tracer.span("GraftSession.start")(GraftSession.local(cpus, extraConf = extraConf))
        val s1 = Clock.nowMs
        spark.sparkContext.setLogLevel("ERROR")
        tracer.span("Tables.register")(w.register(spark))
        ((Clock.nowMs - t0) / 1000, (s1 - s0) / 1000)
      }
    })

    val c = new Ctx(spark, sf, seed, tmp, out, tracer, a.get("plant").contains("1"))
    phase("warmup")(tracer.span("warmup")(w.pass(c, -1)))
    val passes = math.max(1, math.round(seconds / w.passSeconds).toInt)

    /** Timed passes; wall and CPU are medians over passes. */
    def body(ctx: Ctx): (Double, Double, Double, Double) = {
      ctx.ops.clear()
      val t0 = Clock.nowMs
      val per = ctx.tracer.span("body")((0 until passes).map { i =>
        val cpu0 = Host.cpuSeconds()
        val p0 = Clock.nowMs
        ctx.tracer.span("pass")(w.pass(ctx, i))
        ((Clock.nowMs - p0) / 1000, Host.cpuSeconds() - cpu0)
      })
      (Stats.median(per.map(_._1)), Stats.median(per.map(_._2)), t0, Clock.nowMs)
    }

    val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
    val (wallS, cpuS, rssMb) =
      if (!traced) {
        val (wall, cpu, _, _) = body(c)
        (wall, cpu, Host.peakRssMb())
      } else {
        // untraced body first: the traced body's wall minus this one is
        // the tracing overhead
        val cu = new Ctx(spark, sf, seed, tmp, out, new Tracer(tracer.run, false), c.plant)
        val (wallU, cpuU, _, _) = body(cu)
        val rss = Host.peakRssMb()
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe.sql)
        spark.streams.addListener(probe.streams)
        w.reset()
        w match {
          case m: MrWorkload => m.emitted = Some(spark.sparkContext.longAccumulator("mr.emitted"))
          case _ =>
        }
        val (wall, _, t0, t1) = body(c)
        val mark = Clock.nowMs
        spark.range(1).collect() // sentinel: its events arrive last
        probe.drain(mark)
        layers ++= Layers.generic(c, probe, t0, t1, wall, cpus)
        layers ++= Layers.session(setups.map(_._2))
        layers ++= w.layers(c)
        layers ++= Layers.Absent.filterNot(a => layers.exists(_._1 == a._1))
        layers ++= Layers.mr(w, layers.toSeq)
        layers ++= Layers.kernels(c, workloadName == "text_ingest")
        layers += (("trace.overhead_s", wall - wallU, "s"))
        (wallU, cpuU, rss)
      }

    val wrong = phase("check")(tracer.span("check")(w.check(c)))
    val spansFile = out.resolve("spans.jsonl")
    if (traced) tracer.write(spansFile)

    val opsJson = c.ops.map(o => Json.obj(Seq("name" -> Json.str(o.name),
      "group" -> Json.str(o.group), "dur_s" -> Json.num(o.durS),
      "ok" -> o.ok.toString, "error" -> Json.str(o.error))))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "passes" -> passes.toString,
      "setup_s" -> Json.arr(setups.map(s => Json.num(s._1))),
      "wall_s" -> Json.num(wallS),
      "cpu_s" -> Json.num(cpuS),
      "peak_rss_mb" -> Json.num(rssMb),
      "ops" -> Json.arr(opsJson.toSeq),
      "wrong" -> Json.arr(wrong.map(Json.str)),
      "layers" -> Json.obj(layers.toSeq.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "host" -> Json.obj(Seq(
        "load1_start" -> Json.num(load1Start),
        "load1_end" -> Json.num(Host.load1()),
        "cpus" -> cpus.toString,
        "jvm" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version))),
      "phases_s" -> Json.obj(phases.toSeq.map { case (n, v) => n -> Json.num(v) }),
      "spans" -> Json.str(if (traced) spansFile.toString else "")))
    Files.writeString(out.resolve("result.json"), result)
    spark.stop()
  }
}
