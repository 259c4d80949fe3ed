package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared harness for the dev profilers (ProfDedup, ProfCuration):
  * ONE session config (Bench's, extensions included) and ONE timing
  * helper, so profile numbers from different families are always taken
  * under the settings the bench measures. */
object Prof {
  def session(cpus: Int = 32): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time(name: String)(f: => Long): Unit = {
    val t0 = System.nanoTime(); val n = f
    println(f"[prof] $name%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
  }
}
