package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession the mains run on (Bench, Verify and the
  * tools): `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`), one
  * shuffle partition per core, UI off, UTC session time zone.
  * `extraConf` layers a main's own settings on top.
  */
object LocalSession {
  def apply(defaultCpus: Int = 4,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(extraConf)
      .getOrCreate()
  }
}
