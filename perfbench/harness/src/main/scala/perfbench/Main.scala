package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes every raw sample as one JSON
  * file; `perfbench/run.py` launches it, checks the outputs and turns the
  * samples into metrics.
  *
  * {{{
  * perfbench.Main --workload star_etl --seed 1 --seconds 10 --trace 0 \
  *   --work DIR --out result.json [--data DIR]
  * }}}
  *
  * Set-up (untimed): the session at `local[cores]` with as many shuffle
  * partitions as cores, the workload, then the input generation,
  * repeated three times so its median is steady. Set-up is recorded in
  * wall time and in the JVM's CPU time (every thread, from its launch).
  * The timed loop then repeats whole passes until `--seconds` have
  * elapsed, at least one. With `--trace 1` the listeners in [[Probe]]
  * record every job, stage and query execution of the run.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = if (traced) Some(Probe.install(spark)) else None
    val loop = new Loop(spark, probe)
    val sessionReadyMs = loop.nowMs

    val w: Workload = workload match {
      case "star_etl" => new StarEtl(spark, seed, s"$work/out")
      case "llm_data" => new LlmData(spark, seed, opt("data"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val setupOnceCpuS = loop.cpuS

    def timed(body: => Unit): (Double, Double) = {
      val (t0, c0) = (loop.nowMs, loop.cpuS)
      body
      ((loop.nowMs - t0) / 1e3, loop.cpuS - c0)
    }
    val repeated = (1 to 3).map(_ => timed(w.repeatedSetup()))

    val loopStart = loop.nowMs
    var passNo = 0
    while (passNo == 0 || loop.nowMs - loopStart < seconds * 1e3) {
      passNo += 1
      loop.pass(w.pass(loop, passNo))
    }
    val loopEnd = loop.nowMs

    // Spark's context cleaner frees shuffle and broadcast state only
    // after a GC has cleared the references to it, and that frees more
    // heap at the next GC: collect until the heap stops shrinking
    val mem = ManagementFactory.getMemoryMXBean
    def heapAfterGc(): Long = {
      mem.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed
    }
    var heap = heapAfterGc()
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 6 && heap < prev - prev / 100) {
      prev = heap; heap = heapAfterGc(); rounds += 1
    }
    val heapMb = heap / 1048576.0

    val checks = w.checks
    val out = Json.obj((Seq[(String, Any)](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup_once_cpu_s" -> setupOnceCpuS,
      "setup_repeated_s" -> repeated.map(_._1),
      "setup_repeated_cpu_s" -> repeated.map(_._2),
      "loop_start_ms" -> loopStart, "loop_end_ms" -> loopEnd,
      "heap_after_gc_mb" -> heapMb,
      "checks" -> checks.map(c => Json.obj("gate" -> c.gate, "path" -> c.path,
        "oracle" -> c.oracle, "call" -> c.call)),
      "extra" -> Json.obj(w.extra: _*)) ++ records(loop, probe)): _*)
    spark.stop()
    Files.write(Paths.get(opt("out")), out.text.getBytes("UTF-8"))
  }

  /** The run's spans and, when traced, the listeners' records. */
  def records(loop: Loop, probe: Option[Probe]): Seq[(String, Any)] = {
    val (jobs, stages, queries) =
      probe.map(_.snapshot()).getOrElse((Nil, Nil, Nil))
    Seq(
      "passes" -> loop.passes.map(p =>
        Json.obj("pass" -> p.pass, "start_ms" -> p.startMs, "end_ms" -> p.endMs,
          "wall_s" -> p.wallS, "cpu_s" -> p.cpuS)),
      "calls" -> loop.calls.map(c => Json.obj("id" -> c.id, "pass" -> c.pass,
        "name" -> c.name, "kind" -> c.kind, "start_ms" -> c.startMs,
        "end_ms" -> c.endMs, "cpu_s" -> c.cpuS, "ok" -> c.ok,
        "error" -> c.error)),
      "jobs" -> jobs.map(j => Json.obj("id" -> j.id, "call" -> j.call,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds)),
      "stages" -> stages.map(s => Json.obj("id" -> s.id, "call" -> s.call,
        "tasks" -> s.tasks,
        "empty_tasks" -> s.emptyTasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "sched_ms" -> s.schedMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill" -> s.spill, "input" -> s.input, "output" -> s.output)),
      "queries" -> queries.map(q => Json.obj("call" -> q.call,
        "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs, "exchanges" -> q.exchanges,
        "bnlj" -> q.bnlj, "scan_files" -> q.scanFiles)))
  }
}
