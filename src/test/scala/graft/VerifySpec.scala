package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class VerifySpec extends AnyFunSuite {
  test("oracle_sql.json parses back to exactly the oracle SQL, control characters included") {
    val sql = SparkEntry.oracleSql + ("escapes" -> "a\tb\rc\"d\\e\u0001f\ng")
    val path = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    path.toFile.deleteOnExit()
    Verify.writeOracleSql(path, sql)
    val back = new ObjectMapper().readTree(path.toFile).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    assert(back == sql)
    assert(back.size == SparkEntry.oracleSql.size + 1)
  }
}
