package graft
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      s"usage: Verify <sfDir> <outDir> [query,query,...] — got ${args.length} args")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — dev-only fast path
    // for iterating on a few queries; the driver always runs the full set.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // fail LOUDLY on a typo'd name: a silently-ignored filter would let a
    // dev run exit green having verified nothing for the intended query
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Deterministic order (family, then alphabetical) for stable driver
    // logs; cache cleared between families (mirrors Bench).
    graft.queries.Registry.families.foreach { case (_, keys) =>
      keys.filter(k => only.forall(_.contains(k))).foreach { name =>
        val fn = SparkEntry.queries(name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
      spark.catalog.clearCache()
    }
    writeOracleSql(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    spark.stop()
  }

  /** Write the key → oracle SQL map as one JSON object. */
  def writeOracleSql(path: Path, sql: Map[String, String]): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(path.toFile, sql)
}
