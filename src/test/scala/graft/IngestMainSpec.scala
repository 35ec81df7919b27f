package graft

import java.nio.file.Files

import graft.config.Settings
import graft.jobs.IngestMain
import graft.state.IngestState
import org.scalatest.funsuite.AnyFunSuite

/** Full control-plane e2e on the fake transport: settings → client → dump
  * listing → schema → download → IngestJob → warehouse + state
  * (`main.rs:55-249` end to end, no network). */
class IngestMainSpec extends AnyFunSuite with SparkSuite {

  private val base = "https://portal.example"

  private val schemaJson =
    """{"version":"1.0.0","schema":{
      | "user_dim":{"dw_type":"dimension","incremental":true,"tableName":"user_dim",
      |  "columns":[{"name":"id","type":"bigint"},{"name":"name","type":"varchar"}]},
      | "quiz_dim":{"dw_type":"dimension","incremental":false,"tableName":"quiz_dim",
      |  "columns":[{"name":"id","type":"bigint"},{"name":"title","type":"text"}]}
      |}}""".stripMargin

  private val dumpsJson =
    """[
      | {"dumpId":"dump1","sequence":1,"accountId":"self","numFiles":2,"finished":true,
      |  "expires":0,"updatedAt":"2024-01-02T00:00:00Z","createdAt":"2024-01-02T00:00:00Z",
      |  "schemaVersion":"1.0.0"},
      | {"dumpId":"dump2","sequence":2,"accountId":"self","numFiles":2,"finished":true,
      |  "expires":0,"updatedAt":"2024-02-02T00:00:00Z","createdAt":"2024-02-02T00:00:00Z",
      |  "schemaVersion":"1.0.0"},
      | {"dumpId":"dump3","sequence":3,"accountId":"self","numFiles":1,"finished":false,
      |  "expires":0,"updatedAt":"2024-03-02T00:00:00Z","createdAt":"2024-03-02T00:00:00Z",
      |  "schemaVersion":"1.0.0"},
      | {"dumpId":"dump4","sequence":4,"accountId":"self","numFiles":1,"finished":true,
      |  "expires":0,"updatedAt":"2024-04-02T00:00:00Z","createdAt":"2024-04-02T00:00:00Z",
      |  "schemaVersion":"0.9.0"}
      |]""".stripMargin

  private def filesJson(dumpId: String, seq: Int, tables: Map[String, Seq[String]]): String = {
    val arts = tables.map { case (t, files) =>
      val fs = files.map(f =>
        s"""{"url":"$base/files/$dumpId/$f","filename":"$f"}""").mkString(",")
      s""""$t":{"tableName":"$t","partial":false,"files":[$fs]}"""
    }.mkString(",")
    s"""{"accountId":"self","dumpId":"$dumpId","sequence":$seq,"schemaVersion":"1.0.0",
       | "numFiles":1,"finished":true,"expires":0,"createdAt":"x","updatedAt":"x",
       | "artifactsByTable":{$arts}}""".stripMargin
  }

  test("IngestMain.run: two dumps ingested, unfinished + out-of-date skipped") {
    val root = TempDirs.tempDir("graft_main").toString
    val gz = FakeTransport.gzBytes _

    val routes = Map(
      s"$base/api/account/self/dump" -> dumpsJson.getBytes("UTF-8"),
      s"$base/api/schema/latest" -> schemaJson.getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump1" ->
        filesJson("dump1", 1, Map(
          "user_dim" -> Seq("user_dim-00000-aa.gz"),
          "quiz_dim" -> Seq("quiz_dim-00000-aa.gz"))).getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump2" ->
        filesJson("dump2", 2, Map(
          "user_dim" -> Seq("user_dim-00000-bb.gz"),
          "quiz_dim" -> Seq("quiz_dim-00000-bb.gz"))).getBytes("UTF-8"),
      s"$base/files/dump1/user_dim-00000-aa.gz" -> gz(Seq("1\talice", "2\tbob")),
      s"$base/files/dump1/quiz_dim-00000-aa.gz" -> gz(Seq("10\tfirst quiz")),
      s"$base/files/dump2/user_dim-00000-bb.gz" -> gz(Seq("2\tbobby", "3\tcarol")),
      s"$base/files/dump2/quiz_dim-00000-bb.gz" -> gz(Seq("11\tsecond quiz")))

    val transport = new FakeTransport(routes)
    val settings = Settings.fromMap(Map(
      "save_location" -> s"$root/save",
      "rocksdb_location" -> s"$root/state",
      "database.url" -> s"$root/warehouse",
      "canvasdataauth.api_key" -> "k",
      "canvasdataauth.api_secret" -> "s",
      "api_base_url" -> base))

    IngestMain.run(spark, settings, transport)

    import spark.implicits._
    val users = spark.read.parquet(s"$root/warehouse/user_dim")
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(users == Set((1L, "alice"), (2L, "bobby"), (3L, "carol"))) // keep-latest across dumps
    val quizzes = spark.read.parquet(s"$root/warehouse/quiz_dim")
      .select("id").as[Long].collect().toSet
    assert(quizzes == Set(11L)) // volatile: dump2 replaced dump1

    val state = new IngestState(spark, s"$root/state")
    assert(state.dumpStatus("dump1").contains(IngestState.Successful))
    assert(state.dumpStatus("dump2").contains(IngestState.Successful))
    assert(state.dumpStatus("dump3").isEmpty) // unfinished → never attempted
    assert(state.dumpStatus("dump4").contains(IngestState.OutOfDate)) // wrong schema version
    assert(state.lastVersionProcessed.contains("1.0.0"))

    // artifacts landed under save_location/<dumpId>/ (S-5 layout)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/save/dump1/user_dim-00000-aa.gz")))

    // re-run: nothing re-downloaded (resume) and nothing re-imported (F-2)
    val downloadsBefore = transport.downloads.size
    IngestMain.run(spark, settings, transport)
    assert(transport.downloads.size == downloadsBefore)
    assert(spark.read.parquet(s"$root/warehouse/user_dim").count() == 3)
  }

  test("only_load_final via settings imports just the newest dump (F-4)") {
    val root = TempDirs.tempDir("graft_main_f4").toString
    val gz = FakeTransport.gzBytes _
    val routes = Map(
      s"$base/api/account/self/dump" -> dumpsJson.getBytes("UTF-8"),
      s"$base/api/schema/latest" -> schemaJson.getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump2" ->
        filesJson("dump2", 2, Map("user_dim" -> Seq("user_dim-00000-bb.gz"))).getBytes("UTF-8"),
      s"$base/files/dump2/user_dim-00000-bb.gz" -> gz(Seq("2\tbobby", "3\tcarol")))
    val transport = new FakeTransport(routes)
    val settings = Settings.fromMap(Map(
      "save_location" -> s"$root/save",
      "rocksdb_location" -> s"$root/state",
      "database.url" -> s"$root/warehouse",
      "canvasdataauth.api_key" -> "k",
      "canvasdataauth.api_secret" -> "s",
      "only_load_final" -> "true",
      "api_base_url" -> base))

    IngestMain.run(spark, settings, transport)

    // only the newest finished current-schema dump (dump2) was touched —
    // dump1's files endpoint isn't even in routes, so any attempt would throw
    import spark.implicits._
    assert(spark.read.parquet(s"$root/warehouse/user_dim")
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
    val state = new IngestState(spark, s"$root/state")
    assert(state.dumpStatus("dump2").contains(IngestState.Successful))
    assert(state.dumpStatus("dump1").isEmpty)
  }

  test("a jdbc: database.url loads the RDBMS end-to-end alongside the lake") {
    val root = TempDirs.tempDir("graft_main_db").toString
    val gz = FakeTransport.gzBytes _
    val routes = Map(
      s"$base/api/account/self/dump" -> dumpsJson.getBytes("UTF-8"),
      s"$base/api/schema/latest" -> schemaJson.getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump1" ->
        filesJson("dump1", 1, Map(
          "user_dim" -> Seq("user_dim-00000-aa.gz"),
          "quiz_dim" -> Seq("quiz_dim-00000-aa.gz"))).getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump2" ->
        filesJson("dump2", 2, Map(
          "user_dim" -> Seq("user_dim-00000-bb.gz"),
          "quiz_dim" -> Seq("quiz_dim-00000-bb.gz"))).getBytes("UTF-8"),
      s"$base/files/dump1/user_dim-00000-aa.gz" -> gz(Seq("1\talice", "2\tbob")),
      s"$base/files/dump1/quiz_dim-00000-aa.gz" -> gz(Seq("10\tfirst quiz")),
      s"$base/files/dump2/user_dim-00000-bb.gz" -> gz(Seq("2\tbobby", "3\tcarol")),
      s"$base/files/dump2/quiz_dim-00000-bb.gz" -> gz(Seq("11\tsecond quiz")))
    val dbUrl = "jdbc:derby:memory:ingestmaindb;create=true"
    val settings = Settings.fromMap(Map(
      "save_location" -> s"$root/save",
      "rocksdb_location" -> s"$root/state",
      "database.url" -> dbUrl, // the reference's actual semantics
      "canvasdataauth.api_key" -> "k",
      "canvasdataauth.api_secret" -> "s",
      "api_base_url" -> base))

    IngestMain.run(spark, settings, transport = new FakeTransport(routes))

    import spark.implicits._
    val props = new java.util.Properties()
    // incremental table: keep-latest across both dumps, merged in the DB
    val dbUsers = spark.read.jdbc(dbUrl, "\"user_dim\"", props)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(dbUsers == Set((1L, "alice"), (2L, "bobby"), (3L, "carol")))
    // volatile table: last dump's overwrite wins
    val dbQuizzes = spark.read.jdbc(dbUrl, "\"quiz_dim\"", props)
      .select("id").as[Long].collect().toSet
    assert(dbQuizzes == Set(11L))
    // the lake still materialized as the working store, and matches the DB
    val lakeUsers = spark.read.parquet(s"$root/save/warehouse/user_dim")
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(lakeUsers == dbUsers, "lake and RDBMS diverged on the same dumps")
  }

  test("skip_historical_imports marks an all-requests dump successful without importing (F-5)") {
    val root = TempDirs.tempDir("graft_main_f5").toString
    val gz = FakeTransport.gzBytes _
    val histSchema =
      """{"version":"1.0.0","schema":{
        | "requests":{"dw_type":"fact","incremental":false,"tableName":"requests",
        |  "columns":[{"name":"id","type":"bigint"},{"name":"url","type":"text"}]}
        |}}""".stripMargin
    val oneDump =
      """[{"dumpId":"dumpH","sequence":1,"accountId":"self","numFiles":1,"finished":true,
        |  "expires":0,"updatedAt":"2024-01-02T00:00:00Z","createdAt":"2024-01-02T00:00:00Z",
        |  "schemaVersion":"1.0.0"}]""".stripMargin
    val routes = Map(
      s"$base/api/account/self/dump" -> oneDump.getBytes("UTF-8"),
      s"$base/api/schema/latest" -> histSchema.getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dumpH" ->
        filesJson("dumpH", 1, Map("requests" -> Seq("requests-00000-aa.gz"))).getBytes("UTF-8"),
      s"$base/files/dumpH/requests-00000-aa.gz" -> gz(Seq("1\t/api/x")))
    val transport = new FakeTransport(routes)
    val settings = Settings.fromMap(Map(
      "save_location" -> s"$root/save",
      "rocksdb_location" -> s"$root/state",
      "database.url" -> s"$root/warehouse",
      "canvasdataauth.api_key" -> "k",
      "canvasdataauth.api_secret" -> "s",
      "skip_historical_imports" -> "true",
      "api_base_url" -> base))

    IngestMain.run(spark, settings, transport)

    // historical refresh: marked successful, nothing materialized
    val state = new IngestState(spark, s"$root/state")
    assert(state.dumpStatus("dumpH").contains(IngestState.Successful))
    assert(!new java.io.File(s"$root/warehouse/requests").exists())
  }

  test("a dump listed twice in one listing loads once (re-delivery before its first load)") {
    val root = TempDirs.tempDir("graft_main_dup").toString
    val gz = FakeTransport.gzBytes _
    // dump1 arrives again, later, before either copy was loaded
    val listing =
      """[
        | {"dumpId":"dump1","sequence":1,"accountId":"self","numFiles":2,"finished":true,
        |  "expires":0,"updatedAt":"2024-01-02T00:00:00Z","createdAt":"2024-01-02T00:00:00Z",
        |  "schemaVersion":"1.0.0"},
        | {"dumpId":"dump1","sequence":1,"accountId":"self","numFiles":2,"finished":true,
        |  "expires":0,"updatedAt":"2024-01-05T00:00:00Z","createdAt":"2024-01-05T00:00:00Z",
        |  "schemaVersion":"1.0.0"}
        |]""".stripMargin
    val routes = Map(
      s"$base/api/account/self/dump" -> listing.getBytes("UTF-8"),
      s"$base/api/schema/latest" -> schemaJson.getBytes("UTF-8"),
      s"$base/api/account/self/file/byDump/dump1" ->
        filesJson("dump1", 1, Map(
          "user_dim" -> Seq("user_dim-00000-aa.gz"),
          "quiz_dim" -> Seq("quiz_dim-00000-aa.gz"))).getBytes("UTF-8"),
      s"$base/files/dump1/user_dim-00000-aa.gz" -> gz(Seq("1\talice", "2\tbob")),
      s"$base/files/dump1/quiz_dim-00000-aa.gz" -> gz(Seq("10\tfirst quiz")))
    val transport = new FakeTransport(routes)
    val settings = Settings.fromMap(Map(
      "save_location" -> s"$root/save",
      "rocksdb_location" -> s"$root/state",
      "database.url" -> s"$root/warehouse",
      "canvasdataauth.api_key" -> "k",
      "canvasdataauth.api_secret" -> "s",
      "api_base_url" -> base))

    IngestMain.run(spark, settings, transport)

    val manifestFetches = transport.requests.map(_._1).count(_.endsWith("/file/byDump/dump1"))
    assert(manifestFetches == 1, s"dump1's manifest was fetched $manifestFetches times")
    val state = new IngestState(spark, s"$root/state")
    assert(state.dumpStatus("dump1").contains(IngestState.Successful))
    import spark.implicits._
    assert(spark.read.parquet(s"$root/warehouse/user_dim")
      .select("id", "name").as[(Long, String)].collect().toSet == Set((1L, "alice"), (2L, "bob")))
  }
}
