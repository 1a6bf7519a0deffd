package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** Exercises span-to-job attribution on a small local session: a call
  * whose job runs on the calling thread, a call whose job runs on a
  * thread it starts, a call without jobs, an untimed span with a job,
  * and a job outside any call.
  * Writes the spans and the listeners' records to the file named by the
  * first argument, in the harness's result format; the benchmark's tests
  * assert on it.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = Probe.install(spark)
    val loop = new Loop(spark, Some(probe))
    loop.pass {
      loop.call("main_thread", "test") {
        spark.range(1000).groupBy((col("id") % 7).as("k")).count().collect()
          .length == 7
      }
      loop.call("child_thread", "test") {
        var n = 0L
        val t = new Thread(() => n = spark.range(100).count())
        t.start(); t.join()
        n == 100
      }
      loop.call("no_jobs", "test") { Thread.sleep(20); true }
      loop.untimed { spark.range(10).count(); Thread.sleep(250) }
    }
    spark.range(10).count()
    Bus.drain(spark.sparkContext)
    val out = Json.obj(("cores" -> 2) +: Main.records(loop, Some(probe)): _*)
    spark.stop()
    Files.write(Paths.get(args(0)), out.text.getBytes("UTF-8"))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
