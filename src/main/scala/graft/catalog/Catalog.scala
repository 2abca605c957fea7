package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** One row per column of the analyzed schema — the engine's input relation.
  *
  * Mirrors what the reference reflects per column (`/root/reference/app.py:38-44,55,97`):
  * type class name (`app.py:39`), `type.length` (`app.py:43`), `unique`
  * (`app.py:44`), `primary_key` (`app.py:55`), `nullable` (`app.py:97`).
  * `tableSeq`/`ordinal` carry the reference's iteration order
  * (`app.py:31,38`) so report row order is reproducible.
  */
final case class ColumnMeta(
    table_name: String,
    table_seq: Int,
    column_name: String,
    ordinal: Int,
    data_type: String,
    char_max_length: Option[Int],
    is_nullable: Boolean,
    is_unique: Boolean,
    is_primary_key: Boolean)

/** One row per (index, column) — the `indexed_columns` source (`app.py:32,34`). */
final case class IndexCol(table_name: String, index_name: String, column_name: String)

/** One row per (FK constraint, column) with its position — the
  * `foreign_key_columns` source (`app.py:33,35`). The reference counts only
  * the FIRST constrained column of each FK; consumers filter
  * `ordinal_position = 1` to reproduce that quirk.
  */
final case class FkCol(
    table_name: String,
    constraint_name: String,
    column_name: String,
    ordinal_position: Int,
    referenced_table: String)

/** The catalog snapshot the rule engine runs over: three small relations
  * (SURVEY.md §1.3). At 100 TB-of-data scale these stay tiny (they describe
  * schemas, not data): the index and FK relations are broadcast into the
  * rules' existence joins, and a lint report fits one partition.
  */
final case class Catalog(columns: DataFrame, indexCols: DataFrame, fkCols: DataFrame)

object Catalog {
  /** In-memory catalog for tests/fixtures. */
  def fromRows(
      spark: SparkSession,
      cols: Seq[ColumnMeta],
      idx: Seq[IndexCol] = Seq.empty,
      fks: Seq[FkCol] = Seq.empty): Catalog = {
    import spark.implicits._
    Catalog(cols.toDF(), idx.toDF(), fks.toDF())
  }

  /** Offline catalog snapshot (parquet) — same three relations on disk,
    * read through [[Tables.parquet]], so a repeated lint of an unchanged
    * snapshot infers no schema again. */
  def fromParquet(spark: SparkSession, dir: String): Catalog = Catalog(
    Tables.parquet(spark, s"$dir/columns.parquet"),
    Tables.parquet(spark, s"$dir/index_cols.parquet"),
    Tables.parquet(spark, s"$dir/fk_cols.parquet"))

  /** Snapshot a catalog (e.g. one freshly read over JDBC) to the
    * [[fromParquet]] layout, so repeated lint runs don't re-hit the live
    * database. */
  def writeParquet(c: Catalog, dir: String): Unit = {
    c.columns.write.mode("overwrite").parquet(s"$dir/columns.parquet")
    c.indexCols.write.mode("overwrite").parquet(s"$dir/index_cols.parquet")
    c.fkCols.write.mode("overwrite").parquet(s"$dir/fk_cols.parquet")
  }

  /** Normalize the loosely-typed relations a JDBC catalog read produces
    * into the shapes the rule engine expects. MySQL in particular returns
    * boolean expressions (`c.column_key = 'PRI'`, `EXISTS(...)`) as BIGINT
    * 0/1 over JDBC — without this cast, `!col("is_unique")` in Rules would
    * throw AnalysisException on a live-MySQL catalog. Casting an
    * already-boolean column is a no-op, so the generic/Derby path is
    * unaffected. */
  def normalize(c: Catalog): Catalog = {
    import org.apache.spark.sql.functions.col
    def casts(df: DataFrame, types: Map[String, String]): DataFrame =
      types.foldLeft(df) { case (d, (name, tpe)) =>
        if (d.columns.contains(name)) d.withColumn(name, col(name).cast(tpe)) else d
      }
    Catalog(
      casts(c.columns, Map(
        "table_seq" -> "int", "ordinal" -> "int", "char_max_length" -> "int",
        "is_nullable" -> "boolean", "is_unique" -> "boolean", "is_primary_key" -> "boolean")),
      c.indexCols,
      casts(c.fkCols, Map("ordinal_position" -> "int")))
  }

  /** Lowest-level JDBC entry: three catalog queries (columns / index
    * columns / FK columns, shaped per §1.3) pushed to the server whole via
    * the JDBC `query` option. The [[Dialects]] object supplies the
    * MySQL/PostgreSQL information_schema SQL; custom/embedded engines
    * (tests use in-memory Derby) can pass their own. */
  def fromJdbcQueries(
      spark: SparkSession, url: String,
      columnsSql: String, indexColsSql: String, fkColsSql: String,
      driver: Option[String] = None): Catalog = {
    def jdbc(query: String): DataFrame = {
      val r = spark.read.format("jdbc").option("url", url).option("query", query)
      driver.fold(r)(d => r.option("driver", d)).load()
    }
    normalize(Catalog(jdbc(columnsSql), jdbc(indexColsSql), jdbc(fkColsSql)))
  }

  /** Catalog via JDBC `DatabaseMetaData` reflection — the engine-neutral
    * twin of the reference's SQLAlchemy `MetaData.reflect`
    * (`app.py:28`) + per-table `get_indexes`/`get_foreign_keys`
    * (`app.py:32-33`): works against ANY JDBC backend with no dialect
    * SQL, through the standard metadata API (getTables / getColumns /
    * getPrimaryKeys / getIndexInfo / getImportedKeys). Column metadata is
    * one bulk `getColumns` call for the whole schema pattern, grouped by
    * exact (schema, table) name: a per-table call would take the table
    * name as a LIKE pattern, so `A_B` would also return the columns of
    * `AXB`. The PK, index and FK calls stay per table (their table
    * argument is an exact name, which Derby requires). Reflection runs
    * on the Spark driver: catalog relations describe schemas, not data —
    * tiny by construction (§1.3) — and land as broadcast-able local
    * relations. JdbcCatalogSpec drives this against a REAL schema
    * (tables, PKs, FKs, unique indexes) in in-JVM Derby, so the rule
    * engine is proven over an actual engine's system catalog. */
  def fromReflection(
      spark: SparkSession, url: String,
      schemaPattern: Option[String] = None,
      driver: Option[String] = None): Catalog = {
    driver.foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      def drain[A](rs: java.sql.ResultSet)(f: java.sql.ResultSet => A): Seq[A] =
        try Iterator.continually(rs).takeWhile(_.next()).map(f).toVector
        finally rs.close()
      val tables = drain(md.getTables(null, schemaPattern.orNull, "%", Array("TABLE"))) {
        r => (r.getString("TABLE_SCHEM"), r.getString("TABLE_NAME"))
      }.sortBy(_._2)
      // (name, ordinal, type, length, nullable) per exact (schema, table)
      val tableCols = drain(md.getColumns(null, schemaPattern.orNull, "%", "%")) { r =>
        val tpe = r.getString("TYPE_NAME").toUpperCase
        val size = r.getInt("COLUMN_SIZE")
        // `type.length` exists only for character types (app.py:43)
        val len = if (tpe.contains("CHAR") || tpe == "CLOB" || tpe == "TEXT")
          Some(size).filter(_ > 0) else None
        (r.getString("TABLE_SCHEM"), r.getString("TABLE_NAME")) ->
          (r.getString("COLUMN_NAME"), r.getInt("ORDINAL_POSITION"), tpe, len,
            r.getString("IS_NULLABLE") == "YES")
      }.groupMap(_._1)(_._2)
      val cols = Vector.newBuilder[ColumnMeta]
      val idxCols = Vector.newBuilder[IndexCol]
      val fkCols = Vector.newBuilder[FkCol]
      tables.zipWithIndex.foreach { case ((schem, t), i) =>
        val tableSeq = i + 1 // dense, table-name order — matches Dialects
        val pk = drain(md.getPrimaryKeys(null, schem, t))(_.getString("COLUMN_NAME")).toSet
        // (indexName, unique) -> columns in ordinal order; statistics rows
        // carry a null INDEX_NAME and are skipped
        val indexes = drain(md.getIndexInfo(null, schem, t, false, false)) { r =>
          (Option(r.getString("INDEX_NAME")), !r.getBoolean("NON_UNIQUE"),
            r.getShort("ORDINAL_POSITION").toInt, r.getString("COLUMN_NAME"))
        }.collect { case (Some(n), u, o, c) => (n, u, o, c) }
          .groupBy { case (n, u, _, _) => (n, u) }
          .map { case ((n, u), rows) =>
            (n, u, rows.sortBy(_._3).map(_._4)) }.toSeq
        // SQLAlchemy's get_indexes omits the index backing the PK; the
        // portable equivalent of that filter is "unique index over
        // exactly the PK columns"
        val nonPkIndexes = indexes.filterNot { case (_, u, cs) =>
          u && cs.toSet == pk && pk.nonEmpty }
        val uniqueCols = nonPkIndexes.collect {
          case (_, true, Seq(c)) => c }.toSet // single-column unique index
        nonPkIndexes.foreach { case (n, _, cs) =>
          cs.foreach(c => idxCols += IndexCol(t, n, c)) }
        drain(md.getImportedKeys(null, schem, t)) { r =>
          FkCol(t, r.getString("FK_NAME"), r.getString("FKCOLUMN_NAME"),
            r.getShort("KEY_SEQ").toInt, r.getString("PKTABLE_NAME"))
        }.foreach(fkCols += _)
        tableCols.getOrElse((schem, t), Vector.empty).sortBy(_._2).foreach {
          case (name, ordinal, tpe, len, nullable) =>
            cols += ColumnMeta(t, tableSeq, name, ordinal, tpe, len, nullable,
              uniqueCols.contains(name), pk.contains(name))
        }
      }
      fromRows(spark, cols.result(), idxCols.result(), fkCols.result())
    } finally conn.close()
  }

  /** Live-RDBMS catalog over JDBC, replacing the reference's N+1 access
    * pattern (one reflect + 2 round-trips per table, `app.py:28,32-33`)
    * with three bulk `information_schema` scans — SQL per backend in
    * [[Dialects]] (every string exercised by JdbcCatalogSpec against mock
    * catalog tables), result types normalized by [[normalize]]. */
  def fromJdbc(spark: SparkSession, url: String, database: String, dialect: String = "mysql"): Catalog = {
    require(database.nonEmpty, "Could not extract database name from DB_URL.") // app.py:20
    val d = Dialects(dialect, database)
    fromJdbcQueries(spark, url, d.columnsSql, d.indexColsSql, d.fkColsSql)
  }
}
