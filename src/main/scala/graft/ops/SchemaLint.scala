package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.{Catalog, ColumnMeta, FkCol, IndexCol}
import graft.rules.Rules

/** The [REF] surface wired into the driver contract: the `ecommerce_db`
  * catalog fixture (FIXTURES.md §A, reverse-engineered from the reference's
  * golden CSV) run through all five rules.
  *
  * The DuckDB oracle is fully self-contained — the same fixture inlined as
  * VALUES and the same rule semantics in ANSI SQL — generated from the one
  * Scala fixture definition below so the two sides cannot drift.
  */
object SchemaLint {

  // ---- ecommerce_db fixture (FIXTURES.md §A; golden CSV minus stale rows) ----
  val fixtureColumns: Seq[ColumnMeta] = Seq(
    ColumnMeta("Users", 1, "id", 1, "INTEGER", None, false, false, true),
    ColumnMeta("Users", 1, "username", 2, "VARCHAR", Some(255), true, false, false),
    ColumnMeta("Users", 1, "email", 3, "VARCHAR", Some(100), true, true, false),
    ColumnMeta("Products", 2, "id", 1, "INTEGER", None, false, false, true),
    ColumnMeta("Products", 2, "product_name", 2, "VARCHAR", Some(255), true, false, false),
    ColumnMeta("Products", 2, "price", 3, "FLOAT", None, true, false, false),
    ColumnMeta("Products", 2, "created_at", 4, "DATE", None, false, false, false),
    ColumnMeta("Orders", 3, "id", 1, "INTEGER", None, false, false, true),
    ColumnMeta("Orders", 3, "user_id", 2, "INTEGER", None, false, false, false),
    ColumnMeta("Orders", 3, "order_date", 3, "DATETIME", None, true, false, false),
    ColumnMeta("Orders", 3, "total_amount", 4, "DECIMAL", None, true, false, false),
    ColumnMeta("Order_Items", 4, "id", 1, "INTEGER", None, false, false, true),
    ColumnMeta("Order_Items", 4, "order_id", 2, "INTEGER", None, false, false, false),
    ColumnMeta("Order_Items", 4, "product_id", 3, "INTEGER", None, false, false, false),
    ColumnMeta("Order_Items", 4, "price", 4, "FLOAT", None, true, false, false),
    ColumnMeta("Reviews", 5, "id", 1, "INTEGER", None, false, false, true),
    ColumnMeta("Reviews", 5, "rating", 2, "TINYINT", None, true, false, false),
    ColumnMeta("orders_teste", 6, "user_id", 1, "INTEGER", None, false, false, false),
    ColumnMeta("orders_teste", 6, "order_date", 2, "DATETIME", None, true, false, false),
    ColumnMeta("orders_teste", 6, "total_amount", 3, "DECIMAL", None, true, false, false),
    ColumnMeta("users_teste", 7, "username", 1, "VARCHAR", Some(255), true, false, false),
    ColumnMeta("users_teste", 7, "email", 2, "VARCHAR", Some(255), true, false, false))

  val fixtureIndexCols: Seq[IndexCol] = Seq(
    IndexCol("Users", "uq_users_email", "email"),
    IndexCol("Orders", "ix_orders_user_id", "user_id"),
    IndexCol("Order_Items", "ix_oi_order_id", "order_id"),
    IndexCol("Order_Items", "ix_oi_product_id", "product_id"))

  val fixtureFkCols: Seq[FkCol] = Seq(
    FkCol("Orders", "fk_orders_user", "user_id", 1, "Users"),
    FkCol("Order_Items", "fk_oi_order", "order_id", 1, "Orders"),
    FkCol("Order_Items", "fk_oi_product", "product_id", 1, "Products"))

  def fixtureCatalog(spark: SparkSession): Catalog =
    Catalog.fromRows(spark, fixtureColumns, fixtureIndexCols, fixtureFkCols)

  /** Full report in reference emission order (app.py:31,38, rules R1→R5). */
  def report(spark: SparkSession): DataFrame = Rules.all(fixtureCatalog(spark))

  // ---- DuckDB oracle generated from the same fixture ----
  private def sq(s: String) = "'" + s.replace("'", "''") + "'"
  private def colValues: String = fixtureColumns.map { c =>
    val len = c.char_max_length.map(_.toString).getOrElse("CAST(NULL AS INTEGER)")
    s"(${sq(c.table_name)}, ${sq(c.column_name)}, ${sq(c.data_type)}, $len, ${c.is_nullable}, ${c.is_unique}, ${c.is_primary_key})"
  }.mkString(",\n    ")
  private def idxValues: String =
    fixtureIndexCols.map(i => s"(${sq(i.table_name)}, ${sq(i.column_name)})").mkString(", ")
  private def fkValues: String = fixtureFkCols.filter(_.ordinal_position == 1)
    .map(f => s"(${sq(f.table_name)}, ${sq(f.column_name)})").mkString(", ")

  def oracle: String =
    s"""WITH cols(table_name, column_name, data_type, char_max_length, is_nullable, is_unique, is_primary_key) AS (VALUES
       |    $colValues),
       |idx(table_name, column_name) AS (VALUES $idxValues),
       |fkc(table_name, column_name) AS (VALUES $fkValues),
       |not_indexed AS (SELECT c.* FROM cols c WHERE NOT EXISTS
       |  (SELECT 1 FROM idx i WHERE i.table_name = c.table_name AND i.column_name = c.column_name)),
       |r1 AS (SELECT table_name, column_name, 'Query performance - missing index' AS issue_type,
       |    'Large ' || data_type || ' column ''' || column_name || ''' in ''' || table_name || ''' is not indexed.' AS issue,
       |    'Add an index on ''' || table_name || '(' || column_name || ')'' to improve query performance.' AS recommendation
       |  FROM not_indexed
       |  WHERE data_type IN ('VARCHAR', 'TEXT') AND char_max_length IS NOT NULL
       |    AND char_max_length != 0 AND char_max_length >= 255 AND NOT is_unique),
       |r2 AS (SELECT table_name, column_name, 'Normalization - Data integrity' AS issue_type,
       |    'Potential foreign key column ''' || column_name || ''' is not properly defined.' AS issue,
       |    'Define a foreign key constraint and index for ''' || column_name || ''' referencing the appropriate table and add the correct kind of index. ' AS recommendation
       |  FROM not_indexed c
       |  WHERE (LOWER(column_name) LIKE '%id' OR LOWER(column_name) LIKE 'id%') AND NOT is_primary_key
       |    AND NOT EXISTS (SELECT 1 FROM fkc f WHERE f.table_name = c.table_name AND f.column_name = c.column_name)),
       |r3 AS (SELECT table_name, column_name, 'Data type - Precision error' AS issue_type,
       |    'Monetary column ''' || column_name || ''' is of type ''' || data_type || ''', expected DECIMAL or NUMERIC.' AS issue,
       |    'Consider changing the column ''' || table_name || '(' || column_name || ')'' to DECIMAL or NUMERIC for better precision in monetary calculations.' AS recommendation
       |  FROM cols
       |  WHERE (LOWER(column_name) LIKE '%price%' OR LOWER(column_name) LIKE '%amount%'
       |      OR LOWER(column_name) LIKE '%total%' OR LOWER(column_name) LIKE '%cost%'
       |      OR LOWER(column_name) LIKE '%value%' OR LOWER(column_name) LIKE '%balance%'
       |      OR LOWER(column_name) LIKE '%rate%')
       |    AND data_type NOT IN ('DECIMAL', 'NUMERIC')),
       |r4 AS (SELECT table_name, column_name, 'Data type mismatch' AS issue_type,
       |    'Column ''' || column_name || ''' has type ''' || data_type || ''', expected ''' || e.expected_type || '''.' AS issue,
       |    'Change column ''' || table_name || '(' || column_name || ')'' to ''' || e.expected_type || ''' to match the expected type defined' AS recommendation
       |  FROM cols c JOIN (VALUES ('rating', 'FLOAT'), ('created_at', 'DATETIME'), ('order_date', 'DATETIME')) AS e(expected_name, expected_type)
       |    ON LOWER(c.column_name) = e.expected_name
       |  WHERE c.data_type != e.expected_type),
       |r5 AS (SELECT table_name, column_name, 'Data Integrity - NULL values not allowed' AS issue_type,
       |    'Critical column ''' || column_name || ''' allows NULL values.' AS issue,
       |    'Alter column ''' || table_name || '(' || column_name || ')'' to NOT NULL to maintain data integrity.' AS recommendation
       |  FROM cols
       |  WHERE LOWER(column_name) IN ('email', 'price', 'total_amount', 'order_date', 'rating') AND is_nullable)
       |SELECT table_name AS "table", column_name AS "column", issue_type, issue, recommendation
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
       |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
       |ORDER BY "table", "column", issue_type""".stripMargin

  /** Driver-contract entry: report rows re-sorted on the output columns
    * (unique per (table, column, rule)) so Spark and DuckDB order agree.
    * The report is one partition, so the re-sort needs no exchange. */
  val refSchemaLint: QueryDef = QueryDef.sql("ref_schema_lint", oracle) { (s, _) =>
    report(s).orderBy(col("table"), col("column"), col("issue_type"))
  }

  val all: Seq[QueryDef] = Seq(refSchemaLint)
}
