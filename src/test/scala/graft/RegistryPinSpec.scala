package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: its key set and every oracle string. A
  * refactor of `Queries` (moving bodies, memos or oracle SQL) must leave
  * both hashes unchanged; a deliberate registry change updates them. */
class RegistryPinSpec extends AnyFunSuite {

  /** SHA-256 of the length-prefixed fields, so no two field lists share
    * an encoding. */
  private def sha256(fields: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    fields.foreach { f =>
      val b = f.getBytes(UTF_8)
      md.update(s"${b.length}:".getBytes(UTF_8))
      md.update(b)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("the registry has the pinned 330 keys") {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    assert(keys.size == 330)
    assert(sha256(keys) == KeysSha256)
  }

  test("every oracle string is byte-identical to the pinned map") {
    val pairs = SparkEntry.oracleSql.toSeq.sorted
    assert(pairs.map(_._1).toSet.subsetOf(SparkEntry.queries.keySet))
    assert(sha256(pairs.flatMap { case (k, v) => Seq(k, v) }) == OracleSha256)
  }

  private val KeysSha256 =
    "db5a01bd59f36a60b4190680a140e0d004a30bddda5f72bfa00327ac9e849eed"
  private val OracleSha256 =
    "816cc2849992a5811d9028f5d0f44e8f081e403d4aeb2c5a0838fe16d9070809"
}
