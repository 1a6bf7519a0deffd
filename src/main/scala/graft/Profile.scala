package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.queries.Q

/** The dev-loop profiler: one main, four modes, every one on
  * `Session.local()` and Bench's `SPARK_GRAFT_SF_DIR`, every timing
  * through `Bench.timeOne`. Not the bench — no archive, no regression
  * math; the quick answer to "where do this gate's seconds go".
  *
  * Usage: runMain graft.Profile <mode> …
  *   time <prefix>…             3 passes per gate, every pass printed
  *   stages <prefix>…           per-stage wall, task time and task count
  *   plan <outFile> [<prefix>…] formatted physical plans (no prefix: every gate)
  *   warehouse                  min-of-3 forced star rebuilds, one JSON line
  */
object Profile {

  final case class Stage(name: String, wallMs: Long, taskMs: Long, tasks: Int)

  /** The gates whose names start with any of `prefixes`, in suite
    * order. A prefix that matches no gate is an error, never a silent
    * empty run.
    */
  def select(prefixes: Seq[String]): Seq[Q] = {
    val all = SparkEntry.allQueries
    val unmatched = prefixes.filterNot(p => all.exists(_.name.startsWith(p)))
    if (unmatched.nonEmpty)
      throw new IllegalArgumentException(
        s"no gate matches: ${unmatched.mkString(", ")}")
    all.filter(q => prefixes.exists(q.name.startsWith))
  }

  /** Three passes per gate; returns each gate's pass times. */
  def time(spark: SparkSession, sfDir: String, gates: Seq[Q]): Seq[(String, Seq[Double])] =
    gates.map { q =>
      val times = (1 to 3).map { pass =>
        val t = Bench.timeOne(spark, q, sfDir)
        println(f"[time] ${q.name}%-28s pass$pass $t%7.3f s")
        t
      }
      q.name -> times
    }

  /** Two warm passes per gate (JIT/codegen/layout builds), then one
    * instrumented pass recording every completed stage — the local
    * stand-in for the Spark UI's stage table. An isolated win here is
    * necessary, not sufficient: confirm it with the full bench.
    */
  def stages(spark: SparkSession, sfDir: String, gates: Seq[Q]): Seq[(String, Seq[Stage])] = {
    val sc = spark.sparkContext
    gates.map { q =>
      (1 to 2).foreach(_ => Bench.timeOne(spark, q, sfDir))
      val seen = mutable.ArrayBuffer.empty[Stage]
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
            .getOrElse(-1L)
          seen.synchronized {
            seen += Stage(i.name.linesIterator.next(), wall,
              i.taskMetrics.executorRunTime, i.numTasks)
          }
          ()
        }
      }
      sc.addSparkListener(listener)
      val total =
        try Bench.timeOne(spark, q, sfDir)
        finally { Bus.drain(sc); sc.removeSparkListener(listener) }
      val recorded = seen.synchronized(seen.toList)
      println(f"[stages] ${q.name} total=$total%.3f s, ${recorded.size} stages")
      recorded.sortBy(-_.wallMs).take(25).foreach { s =>
        println(f"[stages]   wall=${s.wallMs}%6d ms task=${s.taskMs}%6d ms " +
          f"n=${s.tasks}%3d  ${s.name.take(110)}")
      }
      println(f"[stages] sum-wall=${recorded.map(_.wallMs).sum} ms " +
        f"sum-task=${recorded.map(_.taskMs).sum} ms")
      q.name -> recorded
    }
  }

  /** Writes each gate's formatted physical plan under a `===== <gate> =====`
    * header to `outFile` and returns the text. A gate that throws while
    * building gets an `ERROR:` line in place of its plan.
    */
  def plan(spark: SparkSession, sfDir: String, outFile: String, gates: Seq[Q]): String = {
    val sb = new StringBuilder
    gates.foreach { q =>
      sb.append(s"\n===== ${q.name} =====\n")
      try sb.append(q.build(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      Blocks.sweepLocalCheckpoints(spark)
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plan] wrote $outFile")
    sb.toString
  }

  /** The one-shot star build, min-of-3: an untimed `ensure` (JIT,
    * codegen, fixture CSV generation), then three forced rebuilds
    * back-to-back, printed as one JSON line with every pass, so a drift
    * in the bench's single-shot `warehouse_build` can be judged noise
    * or regression from the artifact alone.
    */
  def warehouse(spark: SparkSession): Seq[Double] = {
    refstar.Warehouse.ensure(spark)
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      refstar.Warehouse.rebuild(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(f"""{"metric":"warehouse_build","value":${times.min}%.3f,""" +
      f""""unit":"sec","passes":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    times
  }

  private val Usage =
    "usage: graft.Profile time <prefix>… | stages <prefix>… | " +
      "plan <outFile> [<prefix>…] | warehouse"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Any = args.toList match {
      case "time" :: ps if ps.nonEmpty =>
        val gates = select(ps); time(_, Bench.sfDir, gates)
      case "stages" :: ps if ps.nonEmpty =>
        val gates = select(ps); stages(_, Bench.sfDir, gates)
      case "plan" :: out :: ps =>
        val gates = if (ps.isEmpty) SparkEntry.allQueries else select(ps)
        plan(_, Bench.sfDir, out, gates)
      case List("warehouse") => warehouse
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = Session.local()
    try mode(spark) finally spark.stop()
  }
}
