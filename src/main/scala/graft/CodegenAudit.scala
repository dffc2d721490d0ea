package graft
import org.apache.spark.sql.execution.FormattedMode
/** Debug harness: run every registered query (optionally filtered by the
  * SPARK_GRAFT_ONLY substring) with START/END markers on stderr, so
  * engine-level warnings — Janino "Code grows beyond 64 KB" codegen
  * fallbacks, broadcast-timeout retries, etc. — can be attributed to the
  * query that triggered them. Whole-stage fallback is silent-but-slow at
  * scale; this makes it visible per query. Between its markers each query
  * also prints its `explain("formatted")` plan, so the physical plan of
  * any registered row comes on demand.
  *
  * Usage: SPARK_GRAFT_ONLY=x_scd2_tiered sbt "runMain graft.CodegenAudit <sfDir>"
  */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    SparkEntry.ensureMediaFixture()
    SparkEntry.ensureJsonlFixture()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
      .foreach { case (name, fn) =>
        System.err.println(s"=== START $name")
        try {
          val df = fn(spark, sfDir)
          System.err.println(df.queryExecution.explainString(FormattedMode))
          df.count()
        } catch { case e: Throwable =>
          System.err.println(s"=== FAILED $name: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        System.err.println(s"=== END $name")
      }
    spark.stop()
  }
}
