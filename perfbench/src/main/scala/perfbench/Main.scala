package perfbench

import graft.engine.GraftSession

/** Harness entry point, started by `run.py` with the built classpath.
  * Runs one workload for the requested time and writes the run record
  * (`--out`); `run.py` derives the metrics and the verdict from it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val spark = GraftSession.local(opts.cores)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val r = new Run(opts, spark)
    r.mark("session")
    try opts.workload match {
      case "olap_fixture" => Olap.run(r)
      case "stream_reconfig" => StreamReconfig.run(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      r.write()
      spark.stop()
    }
  }
}
