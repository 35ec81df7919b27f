package graft.sinks

import graft.keys.KeyInference
import graft.schema.{TableDefinition, TypeMapping}
import org.apache.spark.sql.{DataFrame, SaveMode}

/**
 * Relational sink — the reference's actual load target
 * (`/root/reference/src/db_client.rs`), Spark-first.
 *
 * The reference builds one interpolated SQL string per row and pays two
 * network round-trips per row (DELETE + INSERT, `db_client.rs:184-304`).
 * Here the DataFrame is written in JDBC batches, and the incremental merge
 * becomes: write batch → staging table, then one transactional
 * `DELETE ... WHERE pk IN (SELECT pk FROM stage); INSERT ... SELECT`.
 * Values are never interpolated into SQL (the reference strips `'`/`"`
 * from data as an injection defence, `db_client.rs:216,276-277` — we keep
 * data intact; parameterized writes make the stripping moot).
 *
 * The SQL builders are pure string functions so the dialect behavior
 * (reserved-word renames, DDL types, quoting) is unit-testable without a
 * database; `writeBatch`/`mergeBatch` wire them to a live connection.
 *
 * Scale: `Connections` bounds concurrent connections (reference: r2d2
 * pool defaults); `BatchRows` amortizes round-trips; `DELETE+INSERT` is one
 * statement pair per table-batch, not per row.
 */
object JdbcSink {

  /** Concurrent connections (write partitions) of one batch write. */
  private val Connections = 8

  /** Rows per JDBC insert batch. */
  private val BatchRows = 10000

  final case class Dialect(kind: TypeMapping.Dialect, quote: String) {
    def ident(name: String): String = {
      val renamed = TypeMapping.compatRename(name, kind)
      s"$quote$renamed$quote"
    }
  }
  val Postgres: Dialect = Dialect(TypeMapping.Psql, "\"")
  val Mysql: Dialect = Dialect(TypeMapping.Mysql, "`")
  /** Embedded Derby — the in-sandbox live-integration target (JdbcLiveSpec
    * runs the whole create → stage → merge cycle against it in-memory).
    * ANSI double-quoting like Postgres; no `IF NOT EXISTS`, so creation
    * goes through [[ensureTable]]'s metadata probe. */
  val Derby: Dialect = Dialect(TypeMapping.Derby, "\"")

  /** `CREATE TABLE IF NOT EXISTS` DDL — op I-1 (`db_client.rs:147-182,
    * 336-377`), additive-only like the reference (no ALTER). Derby lacks
    * `IF NOT EXISTS`; its callers go through [[ensureTable]]. */
  def createTableSql(table: TableDefinition, d: Dialect): String = {
    val ifNotExists = if (d == Derby) "" else "IF NOT EXISTS "
    val cols = table.columns
      .map(c => s"${d.ident(c.name)} ${TypeMapping.toDdlType(c.dbType, d.kind)}")
      .mkString(", ")
    val charset = if (d == Mysql) " CHARACTER SET utf8mb4" else ""
    s"CREATE TABLE $ifNotExists${d.ident(table.tableName)} ($cols)$charset"
  }

  /** Case-exact existence probe via connection metadata — the portable
    * form of `IF NOT EXISTS` (identifiers are created quoted, so the
    * stored name is exactly `table.tableName`). The name is escaped with
    * the driver's search-string escape: getTables treats its argument as
    * a LIKE pattern, and every warehouse table name contains `_` (a
    * single-char wildcard), so an unescaped probe could match a
    * different table and silently skip the CREATE. The probe is scoped to
    * the connection's current catalog/schema and to TABLE objects — a
    * null scope would let a same-named table in ANY schema satisfy the
    * probe, silently skipping the CREATE and sending the merge at a
    * table we never made. */
  def tableExists(conn: java.sql.Connection, tableName: String): Boolean = {
    val md = conn.getMetaData
    // drivers MAY return null/empty here (DuckDB does); then the pattern
    // cannot be escaped and the exact-name re-check below carries alone
    val pattern = Option(md.getSearchStringEscape).filter(_.nonEmpty) match {
      case Some(esc) => tableName.replace(esc, esc + esc)
        .replace("_", esc + "_").replace("%", esc + "%")
      case None => tableName
    }
    // both spellings of the base-table type: classic drivers say TABLE,
    // information_schema-styled ones (DuckDB) say BASE TABLE
    val rs = md.getTables(conn.getCatalog, conn.getSchema, pattern,
      Array("TABLE", "BASE TABLE"))
    // exact-name re-check: even escaped, getTables is a LIKE scan, and an
    // unescapable pattern could match siblings (every warehouse table name
    // contains `_`, a single-char wildcard)
    try {
      var found = false
      while (!found && rs.next()) found = rs.getString("TABLE_NAME") == tableName
      found
    } finally rs.close()
  }

  /** I-1 against a live connection: create the target when absent. */
  def ensureTable(conn: java.sql.Connection, table: TableDefinition, d: Dialect): Unit =
    if (!tableExists(conn, table.tableName)) {
      val st = conn.createStatement()
      try st.execute(createTableSql(table, d)) finally st.close()
    }

  /** `DROP TABLE IF EXISTS` — op I-2, volatile path (`db_client.rs:126-145`).
    * Derby has no `IF EXISTS` (same gap as its CREATE — see
    * [[createTableSql]]), so its statement is a plain DROP and existence
    * is the caller's job: use [[dropTable]], which probes via
    * [[tableExists]] first, exactly like the staged-merge rollback path. */
  def dropTableSql(tableName: String, d: Dialect): String =
    if (d == Derby) s"DROP TABLE ${d.ident(tableName)}"
    else s"DROP TABLE IF EXISTS ${d.ident(tableName)}"

  /** I-2 against a live connection: drop-if-exists on every dialect,
    * including Derby (probe + plain DROP). */
  def dropTable(conn: java.sql.Connection, tableName: String, d: Dialect): Unit =
    if (d != Derby || tableExists(conn, tableName)) {
      val st = conn.createStatement()
      try st.execute(dropTableSql(tableName, d)) finally st.close()
    }

  /** The staged-merge statement pair — the set-based replacement of the
    * reference's per-row delete/insert loop (op I-3). Run inside ONE
    * transaction after the batch lands in `stageName`. */
  def mergeSql(table: TableDefinition, stageName: String, d: Dialect): Seq[String] = {
    val pk = KeyInference.idLikeColumn(table.tableName, table.columns.map(_.name))
      .getOrElse(throw new IllegalArgumentException(
        s"no id-like column for ${table.tableName}; use volatile overwrite"))
    val target = d.ident(table.tableName)
    val stage = d.ident(stageName)
    val cols = table.columns.map(c => d.ident(c.name)).mkString(", ")
    Seq(
      s"DELETE FROM $target WHERE ${d.ident(pk)} IN (SELECT ${d.ident(pk)} FROM $stage)",
      s"INSERT INTO $target ($cols) SELECT $cols FROM $stage",
      s"DROP TABLE $stage")
  }

  /** `createTableColumnTypes` option value so Spark's JDBC writer emits the
    * reference's DDL types instead of its defaults. */
  def columnTypesOption(table: TableDefinition, d: Dialect): String =
    table.columns
      .map(c => s"${TypeMapping.compatRename(c.name, d.kind)} ${TypeMapping.toDdlType(c.dbType, d.kind)}")
      .mkString(", ")

  /** Volatile/bulk path (op I-4): batched inserts, bounded connections. */
  def writeBatch(df: DataFrame, url: String, tableName: String,
      props: java.util.Properties, overwrite: Boolean): Unit = {
    df.repartition(Connections)
      .write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .option("batchsize", BatchRows.toString)
      .option("isolationLevel", "READ_COMMITTED")
      .jdbc(url, tableName, props)
  }

  /** Incremental path (op I-3): ensure target → batch → staging table →
    * the transactional merge statements from [[mergeSql]] on one
    * connection. Live-connection lessons (JdbcLiveSpec on embedded Derby):
    *  - the stage name is passed to Spark PRE-QUOTED (`d.ident`), because
    *    Spark interpolates the table option verbatim into its DDL/DML —
    *    unquoted, a case-folding engine (Derby: upper) would store
    *    QUIZ_DIM__STAGE while [[mergeSql]] references "quiz_dim__stage";
    *  - batch columns are renamed to their post-[[TypeMapping.compatRename]]
    *    identifiers before staging, since the merge INSERT lists the
    *    RENAMED column on both sides (a batch with a raw `default` column
    *    would otherwise fail at first contact with the database). */
  def mergeBatch(df: DataFrame, url: String, table: TableDefinition,
      d: Dialect, props: java.util.Properties): Unit = {
    val stage = s"${table.tableName}__stage"
    val renamed = df.toDF(df.columns.map(TypeMapping.compatRename(_, d.kind)): _*)
    writeBatch(renamed, url, d.ident(stage), props, overwrite = true)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      ensureTable(conn, table, d) // autocommit DDL — outside the txn scope
      conn.setAutoCommit(false)
      try {
        val st = conn.createStatement()
        try mergeSql(table, stage, d).foreach(st.execute)
        finally st.close()
        conn.commit()
      } catch {
        // rollback is scoped to the transactional section: calling it on
        // an autocommit connection (DDL failure above) throws and would
        // mask the root cause
        case e: Throwable =>
          try conn.rollback() catch { case s: Throwable => e.addSuppressed(s) }
          // the rollback also undid the in-transaction DROP of the stage,
          // which writeBatch created under autocommit — without this
          // best-effort cleanup a failed merge leaks <table>__stage into
          // the target database until the next run's overwrite
          try {
            conn.setAutoCommit(true)
            val st = conn.createStatement()
            // plain DROP (no IF EXISTS — Derby lacks it): writeBatch just
            // created the stage, so absence is itself an error worth noting
            try st.execute(s"DROP TABLE ${d.ident(stage)}") finally st.close()
          } catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
    } finally conn.close()
  }
}
