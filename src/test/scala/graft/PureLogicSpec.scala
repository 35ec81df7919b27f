package graft

import graft.api.{ArtifactFile, HmacSigner, Manifest}
import graft.keys.{FileName, KeyInference}
import graft.schema.TypeMapping
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the pure logic ported from the reference (SURVEY §5.1). */
class PureLogicSpec extends AnyFunSuite {

  // ---- TypeMapping (type_converter.rs:13-99) -----------------------------

  test("12 Canvas types map to Spark types") {
    assert(TypeMapping.toSparkType("bigint") == LongType)
    assert(TypeMapping.toSparkType("boolean") == BooleanType)
    assert(TypeMapping.toSparkType("double precision") == DoubleType)
    assert(TypeMapping.toSparkType("enum") == StringType)
    assert(TypeMapping.toSparkType("int") == IntegerType)
    assert(TypeMapping.toSparkType("integer") == IntegerType)
    assert(TypeMapping.toSparkType("text") == StringType)
    assert(TypeMapping.toSparkType("timestamp") == TimestampType)
    assert(TypeMapping.toSparkType("date") == DateType)
    assert(TypeMapping.toSparkType("varchar") == StringType)
    assert(TypeMapping.toSparkType("guid") == StringType)
    assert(TypeMapping.toSparkType("datetime") == TimestampType)
  }

  test("unknown Canvas type is a hard error (type_converter.rs:62-64)") {
    intercept[TypeMapping.UnknownCanvasType](TypeMapping.toSparkType("blob"))
    intercept[TypeMapping.UnknownCanvasType](TypeMapping.toDdlType("blob", TypeMapping.Psql))
  }

  test("DDL mapping incl. MySQL quirks (boolean→VARCHAR(10), varchar length ignored)") {
    assert(TypeMapping.toDdlType("boolean", TypeMapping.Mysql) == "VARCHAR(10)")
    assert(TypeMapping.toDdlType("boolean", TypeMapping.Psql) == "BOOLEAN")
    assert(TypeMapping.toDdlType("varchar", TypeMapping.Mysql) == "LONGTEXT")
    assert(TypeMapping.toDdlType("double precision", TypeMapping.Mysql) == "FLOAT(17)")
  }

  test("cast-as table (type_converter.rs:76-99)") {
    assert(TypeMapping.castAs("BIGINT", TypeMapping.Psql) == "int8")
    assert(TypeMapping.castAs("TEXT", TypeMapping.Psql) == "")
    assert(TypeMapping.castAs("FLOAT(17)", TypeMapping.Mysql) == "DECIMAL(34, 17)")
    assert(TypeMapping.castAs("bigint", TypeMapping.Mysql) == "SIGNED")
  }

  test("reserved-word renames (db_client.rs:160, 346-356)") {
    assert(TypeMapping.compatRename("default", TypeMapping.Psql) == "_default")
    assert(TypeMapping.compatRename("generated", TypeMapping.Mysql) == "_generated")
    assert(TypeMapping.compatRename("generated", TypeMapping.Psql) == "generated")
    assert(TypeMapping.compatRename("name", TypeMapping.Mysql) == "name")
  }

  // ---- KeyInference (importer.rs:148-186) --------------------------------

  test("id column wins") {
    assert(KeyInference.idLikeColumn("user_dim", Seq("id", "user_id", "name")).contains("id"))
  }

  test("single suffix strip: assignment_fact → assignment_id") {
    assert(KeyInference.idLikeColumn("assignment_fact",
      Seq("assignment_id", "course_id")).contains("assignment_id"))
  }

  test("double suffix strip: quiz_question_answer_dim → quiz_question_id") {
    assert(KeyInference.idLikeColumn("quiz_question_answer_dim",
      Seq("quiz_question_id", "text")).contains("quiz_question_id"))
  }

  test("first strip preferred over second") {
    // both quiz_question_answer_id and quiz_question_id present → single strip wins
    assert(KeyInference.idLikeColumn("quiz_question_answer_dim",
      Seq("quiz_question_answer_id", "quiz_question_id")).contains("quiz_question_answer_id"))
  }

  test("no underscore in table name and no id → None") {
    assert(KeyInference.idLikeColumn("requests", Seq("guid", "url")).isEmpty)
  }

  test("no matching column → None") {
    assert(KeyInference.idLikeColumn("assignment_fact", Seq("course_id")).isEmpty)
  }

  // ---- FileName (importer.rs:66-101) -------------------------------------

  test("well-formed filename splits") {
    assert(FileName.parse("user_dim-00000-abc123.gz")
      .contains(FileName("user_dim", "00000", "abc123", "gz")))
  }

  test("no dash → None") {
    assert(FileName.parse("nodash.gz").isEmpty)
  }

  test("reference bug preserved: >3 dash parts rejected") {
    assert(FileName.parse("a-b-c-d.gz").isEmpty)
  }

  test("fewer than 3 parts rejected") {
    assert(FileName.parse("only-two.gz").isEmpty)
  }

  // ---- HmacSigner (api_client.rs:60-96) ----------------------------------

  test("canonical string layout: 8 newline-joined fields ending in secret") {
    val c = HmacSigner.canonicalString(
      "GET", "portal.example.com", "application/json", "", "/api/account/self/dump",
      "", "2024-01-01T00:00:00.000Z", "sekrit")
    assert(c.split("\n", -1).length == 8)
    assert(c.endsWith("\nsekrit"))
    assert(c.startsWith("GET\n"))
  }

  test("HMAC-SHA256 against a fixed vector") {
    // RFC 4231 test case 2: key "Jefe", data "what do ya want for nothing?"
    val sig = HmacSigner.sign("what do ya want for nothing?", "Jefe")
    // known HMAC-SHA256 = 5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843
    val expectHex = "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"
    val gotHex = Base64ToHex(sig)
    assert(gotHex == expectHex)
  }

  private def Base64ToHex(b64: String): String =
    java.util.Base64.getDecoder.decode(b64).map("%02x".format(_)).mkString

  test("auth header shape: HMACAuth key:b64") {
    val h = HmacSigner.authHeader("mykey", "mysecret", "GET", "h", "", "", "/p", "", "d")
    assert(h.startsWith("HMACAuth mykey:"))
  }

  test("date header format %Y-%m-%dT%H:%M:%S%.3fZ") {
    val s = HmacSigner.dateHeader(java.time.Instant.parse("2024-03-05T06:07:08.123Z"))
    assert(s == "2024-03-05T06:07:08.123Z")
  }

  // ---- Historical refresh (api_client.rs:101-112) ------------------------

  test("all-requests dump is historical") {
    val files = Seq(
      ArtifactFile("requests", partial = false, "u1", "requests-00000-aa.gz"),
      ArtifactFile("requests", partial = false, "u2", "requests-00001-bb.gz"))
    assert(Manifest.isHistoricalRefresh(files))
  }

  test("mixed dump is not historical; empty dump is not historical") {
    val files = Seq(
      ArtifactFile("requests", partial = false, "u1", "requests-00000-aa.gz"),
      ArtifactFile("user_dim", partial = false, "u2", "user_dim-00000-bb.gz"))
    assert(!Manifest.isHistoricalRefresh(files))
    assert(!Manifest.isHistoricalRefresh(Seq.empty[ArtifactFile]))
  }

  // ---- LocalSession core count -------------------------------------------

  test("cpus: SPARK_GRAFT_CPUS when set, the processor count when unset") {
    assert(LocalSession.resolveCpus(Map("SPARK_GRAFT_CPUS" -> "7")) == 7)
    assert(LocalSession.resolveCpus(Map.empty) == Runtime.getRuntime.availableProcessors())
  }
}
