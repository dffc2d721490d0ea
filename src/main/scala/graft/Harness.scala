package graft

import org.apache.spark.sql.SparkSession

/** Shared harness plumbing for the Bench/Verify/CodegenAudit mains. */
object Harness {
  /** Spark local dir for shuffle/spill: tmpfs when available (/tmp is
    * disk-backed on the harness machine and writeback caused multi-second
    * stalls), the JVM default tmpdir otherwise, `SPARK_GRAFT_LOCAL_DIR`
    * overriding both. */
  def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm/spark-graft"
    else System.getProperty("java.io.tmpdir")
  })

  /** The one session every main runs in: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions, UI off, UTC session
    * time, shuffle and spill under [[localDir]], WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
