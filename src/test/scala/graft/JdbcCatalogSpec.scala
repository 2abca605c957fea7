package graft

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame

import graft.catalog.{Catalog, Dialects}
import graft.ops.SchemaLint
import graft.rules.Rules

/** End-to-end JDBC catalog path (SURVEY.md §7.2.3: "exercised in tests via
  * an embedded-JDBC stand-in"): the ecommerce_db fixture is loaded into an
  * in-memory Derby database, read back through Spark's JDBC source with
  * the three bulk catalog queries, and run through all five rules. */
class JdbcCatalogSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def seedDerby(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      def tryDrop(t: String): Unit =
        try st.execute(s"DROP TABLE $t") catch { case _: Exception => () }
      Seq("COLS_META", "IDX_META", "FK_META").foreach(tryDrop)
      st.execute("""CREATE TABLE COLS_META (
        table_name VARCHAR(64), table_seq INT, column_name VARCHAR(64),
        ordinal INT, data_type VARCHAR(32), char_max_length INT,
        is_nullable BOOLEAN, is_unique BOOLEAN, is_primary_key BOOLEAN)""")
      st.execute("CREATE TABLE IDX_META (table_name VARCHAR(64), index_name VARCHAR(64), column_name VARCHAR(64))")
      st.execute("""CREATE TABLE FK_META (table_name VARCHAR(64), constraint_name VARCHAR(64),
        column_name VARCHAR(64), ordinal_position INT, referenced_table VARCHAR(64))""")

      val insCols = conn.prepareStatement("INSERT INTO COLS_META VALUES (?,?,?,?,?,?,?,?,?)")
      SchemaLint.fixtureColumns.foreach { c =>
        insCols.setString(1, c.table_name); insCols.setInt(2, c.table_seq)
        insCols.setString(3, c.column_name); insCols.setInt(4, c.ordinal)
        insCols.setString(5, c.data_type)
        c.char_max_length match {
          case Some(l) => insCols.setInt(6, l)
          case None => insCols.setNull(6, java.sql.Types.INTEGER)
        }
        insCols.setBoolean(7, c.is_nullable); insCols.setBoolean(8, c.is_unique)
        insCols.setBoolean(9, c.is_primary_key)
        insCols.executeUpdate()
      }
      val insIdx = conn.prepareStatement("INSERT INTO IDX_META VALUES (?,?,?)")
      SchemaLint.fixtureIndexCols.foreach { i =>
        insIdx.setString(1, i.table_name); insIdx.setString(2, i.index_name)
        insIdx.setString(3, i.column_name); insIdx.executeUpdate()
      }
      val insFk = conn.prepareStatement("INSERT INTO FK_META VALUES (?,?,?,?,?)")
      SchemaLint.fixtureFkCols.foreach { f =>
        insFk.setString(1, f.table_name); insFk.setString(2, f.constraint_name)
        insFk.setString(3, f.column_name); insFk.setInt(4, f.ordinal_position)
        insFk.setString(5, f.referenced_table); insFk.executeUpdate()
      }
    } finally conn.close()
  }

  test("rules over a catalog read through the JDBC source match the in-memory fixture") {
    seedDerby()
    val catalog = Catalog.fromJdbcQueries(spark, url,
      columnsSql = "SELECT * FROM COLS_META",
      indexColsSql = "SELECT * FROM IDX_META",
      fkColsSql = "SELECT * FROM FK_META",
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))
    val viaJdbc = Rules.all(catalog).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val inMemory = SchemaLint.report(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(viaJdbc == inMemory)
    assert(viaJdbc.length == 18)
  }

  test("DatabaseMetaData reflection of a REAL Derby schema feeds the rule engine " +
    "(the reference's MetaData.reflect, against an actual system catalog)") {
    val url2 = "jdbc:derby:memory:graftreflect;create=true"
    val conn = DriverManager.getConnection(url2)
    try {
      val st = conn.createStatement()
      def tryDrop(t: String): Unit =
        try st.execute(s"DROP TABLE $t") catch { case _: Exception => () }
      tryDrop("orders"); tryDrop("users")
      st.execute("""CREATE TABLE users (
        id INT NOT NULL PRIMARY KEY,
        email VARCHAR(255),
        bio VARCHAR(1000))""")
      st.execute("CREATE UNIQUE INDEX ux_email ON users(email)")
      st.execute("""CREATE TABLE orders (
        id INT NOT NULL PRIMARY KEY,
        user_id INT NOT NULL REFERENCES users(id),
        total_amount DOUBLE,
        session_id VARCHAR(64))""")
    } finally conn.close()
    val cat = Catalog.fromReflection(spark, url2, schemaPattern = Some("APP"),
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))

    // reflected shapes come from Derby's real catalog, not fixture data
    val byCol = cat.columns.collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    assert(byCol.size == 7)
    assert(byCol(("USERS", "ID")).getAs[Boolean]("is_primary_key"))
    assert(byCol(("USERS", "EMAIL")).getAs[Boolean]("is_unique")) // via ux_email
    assert(byCol(("USERS", "EMAIL")).getAs[Boolean]("is_nullable"))
    assert(byCol(("USERS", "BIO")).getAs[Int]("char_max_length") == 1000)
    assert(byCol(("ORDERS", "TOTAL_AMOUNT")).getAs[String]("data_type") == "DOUBLE")
    assert(byCol(("ORDERS", "ID")).getAs[Int]("table_seq") == 1) // name order
    assert(byCol(("USERS", "ID")).getAs[Int]("table_seq") == 2)
    // the PK-backing unique index is excluded, ux_email survives
    assert(cat.indexCols.collect().map(_.getAs[String]("column_name")).toSet
      .contains("EMAIL"))
    // the inline FK reflects with its first constrained column
    val fks = cat.fkCols.collect()
    assert(fks.exists(f => f.getAs[String]("table_name") == "ORDERS" &&
      f.getAs[String]("column_name") == "USER_ID" &&
      f.getAs[Int]("ordinal_position") == 1 &&
      f.getAs[String]("referenced_table") == "USERS"))

    // and the rule engine fires correctly over the reflected catalog
    val issues = Rules.all(cat).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3))).toSeq // (table, column, issue)
    def fired(t: String, c: String, frag: String): Boolean =
      issues.exists(i => i._1 == t && i._2 == c && i._3.contains(frag))
    assert(fired("USERS", "BIO", "is not indexed"))            // R1
    assert(fired("ORDERS", "SESSION_ID", "not properly defined")) // R2
    assert(fired("ORDERS", "TOTAL_AMOUNT", "expected DECIMAL")) // R3
    assert(fired("ORDERS", "TOTAL_AMOUNT", "allows NULL"))      // R5
    assert(!issues.exists(_._2 == "USER_ID"), "FK first column is exempt from R2")
    assert(!fired("USERS", "EMAIL", "is not indexed"), "unique column is exempt from R1")
  }

  test("reflection keys columns by exact table name: `_` in A_B is no LIKE wildcard") {
    val url3 = "jdbc:derby:memory:graftwildcard;create=true"
    val conn = DriverManager.getConnection(url3)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE A_B (ID INT, X INT)")
      st.execute("CREATE TABLE AXB (ID INT, Y INT, Z INT)")
    } finally conn.close()
    val cat = Catalog.fromReflection(spark, url3, schemaPattern = Some("APP"),
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))
    val byTable = cat.columns.collect().toSeq
      .groupMap(_.getAs[String]("table_name"))(_.getAs[String]("column_name"))
    assert(byTable == Map("A_B" -> Seq("ID", "X"), "AXB" -> Seq("ID", "Y", "Z")))
  }

  // ---- dialect SQL validation -------------------------------------------
  // The MySQL/PostgreSQL information_schema SQL in Dialects cannot run
  // against a live server here (zero egress), so every query string is
  // executed by Spark SQL against mock catalog tables with the real
  // backends' column names — a typo'd column or syntax slip fails these
  // tests. One documented shim: Spark has no `x = ANY(array)` operator, so
  // the PG idiom `a.attnum = ANY(ix.indkey)` is mechanically rewritten to
  // `array_contains(ix.indkey, a.attnum)` before execution (same
  // semantics; everything else runs verbatim).

  private def shimAny(sql: String): String =
    """(\w+(?:\.\w+)*)\s*=\s*ANY\((\w+(?:\.\w+)*)\)""".r
      .replaceAllIn(sql, m => s"array_contains(${m.group(2)}, ${m.group(1)})")

  private def mockInformationSchema(): Unit = {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS information_schema")
    def save(df: DataFrame, name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS information_schema.$name")
      // a crashed previous run can leave the location behind without a
      // catalog entry — clear it so saveAsTable doesn't refuse
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir") + s"/information_schema.db/$name")
      val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.saveAsTable(s"information_schema.$name")
    }
    // two schemas side by side: MySQL rows live in table_schema='mydb',
    // PostgreSQL rows in table_schema='public' of table_catalog='pgdb'
    save(Seq(
      // (catalog, schema, table, column, ordinal, type, len, nullable, key)
      ("def", "mydb", "users", "id", 1, "int", null.asInstanceOf[Integer], "NO", "PRI"),
      ("def", "mydb", "users", "email", 2, "varchar", Integer.valueOf(255), "NO", ""),
      ("def", "mydb", "users", "bio", 3, "text", Integer.valueOf(1000), "YES", ""),
      ("def", "mydb", "orders", "id", 1, "int", null.asInstanceOf[Integer], "NO", "PRI"),
      ("def", "mydb", "orders", "user_id", 2, "int", null.asInstanceOf[Integer], "YES", "MUL"),
      ("def", "mydb", "orders", "total_amount", 3, "double", null.asInstanceOf[Integer], "YES", ""),
      ("pgdb", "public", "users", "id", 1, "integer", null.asInstanceOf[Integer], "NO", ""),
      ("pgdb", "public", "users", "email", 2, "character varying", Integer.valueOf(255), "NO", ""),
      ("pgdb", "public", "orders", "user_id", 1, "integer", null.asInstanceOf[Integer], "YES", ""))
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "character_maximum_length", "is_nullable", "column_key"),
      "columns")
    save(Seq(
      ("mydb", "users", "email", 0, "ux_email"),
      ("mydb", "users", "id", 0, "PRIMARY"),    // PRIMARY must be excluded
      ("mydb", "orders", "user_id", 1, "ix_user"))
      .toDF("table_schema", "table_name", "column_name", "non_unique", "index_name"),
      "statistics")
    save(Seq(
      // MySQL shape: referenced_table_name set only for FKs (constraint
      // name distinct from the PG one — PG's fkColsSql joins on
      // constraint_name with no schema filter, as in a real PG catalog)
      ("mydb", "orders", "orders_ibfk_1", "user_id", 1, "users"),
      ("mydb", "users", "PRIMARY", "id", 1, null.asInstanceOf[String]),
      // PG shape: same table, no referenced_table_name (comes via ccu)
      ("pgdb", "orders", "fk_orders_users", "user_id", 1, null.asInstanceOf[String]))
      .toDF("table_schema", "table_name", "constraint_name", "column_name",
        "ordinal_position", "referenced_table_name"),
      "key_column_usage")
    save(Seq(
      ("UNIQUE", "users", "ux_email"),
      ("PRIMARY KEY", "users", "pk_users"),
      ("FOREIGN KEY", "orders", "fk_orders_users"))
      .toDF("constraint_type", "table_name", "constraint_name"),
      "table_constraints")
    save(Seq(
      ("ux_email", "email", "users"),
      ("pk_users", "id", "users"),
      ("fk_orders_users", "id", "users")) // for FKs, ccu points at the REFERENCED table
      .toDF("constraint_name", "column_name", "table_name"),
      "constraint_column_usage")
    // pg_catalog relations are referenced unqualified → temp views
    Seq((100L, 200L, Seq(2), false), (100L, 201L, Seq(1), true))
      .toDF("indrelid", "indexrelid", "indkey", "indisprimary")
      .createOrReplaceTempView("pg_index")
    Seq((100L, "users"), (200L, "ux_email"), (201L, "pk_users"))
      .toDF("oid", "relname").createOrReplaceTempView("pg_class")
    Seq((100L, 1, "id"), (100L, 2, "email"), (100L, 3, "bio"))
      .toDF("attrelid", "attnum", "attname").createOrReplaceTempView("pg_attribute")
  }

  test("MySQL dialect SQL executes against information_schema mocks and yields the §1.3 shape") {
    mockInformationSchema()
    val d = Dialects.mysql("mydb")
    val cols = Catalog.normalize(Catalog(
      spark.sql(d.columnsSql), spark.sql(d.indexColsSql), spark.sql(d.fkColsSql)))
    val byCol = cols.columns.collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    assert(byCol.size == 6)
    val email = byCol(("users", "email"))
    assert(email.getAs[String]("data_type") == "VARCHAR") // UPPER()
    assert(email.getAs[Int]("char_max_length") == 255)
    assert(!email.getAs[Boolean]("is_nullable") && email.getAs[Boolean]("is_unique"))
    assert(byCol(("users", "id")).getAs[Boolean]("is_primary_key"))
    // dense table_seq in name order: orders=1, users=2
    assert(byCol(("orders", "id")).getAs[Int]("table_seq") == 1)
    assert(byCol(("users", "id")).getAs[Int]("table_seq") == 2)
    // PRIMARY excluded from the index relation; FK relation only real FKs
    assert(cols.indexCols.collect().map(_.getAs[String]("index_name")).toSet ==
      Set("ux_email", "ix_user"))
    val fks = cols.fkCols.collect()
    assert(fks.length == 1 && fks.head.getAs[String]("referenced_table") == "users")
    // the full rule engine runs over the dialect-loaded catalog
    val issues = Rules.all(cols).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(issues.contains(("users", "bio")))          // R1: big text, unindexed
    assert(issues.contains(("orders", "total_amount"))) // R3+R5
    assert(!issues.contains(("orders", "user_id")))     // FK-covered → no R2
  }

  test("PostgreSQL dialect SQL executes against catalog mocks (ANY→array_contains shim only)") {
    mockInformationSchema()
    val d = Dialects.postgresql("pgdb")
    val cols = Catalog.normalize(Catalog(
      spark.sql(d.columnsSql), spark.sql(shimAny(d.indexColsSql)), spark.sql(d.fkColsSql)))
    val byCol = cols.columns.collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    assert(byCol.size == 3)
    val email = byCol(("users", "email"))
    assert(email.getAs[String]("data_type") == "CHARACTER VARYING")
    assert(email.getAs[Boolean]("is_unique") && !email.getAs[Boolean]("is_nullable"))
    assert(byCol(("users", "id")).getAs[Boolean]("is_primary_key"))
    // non-primary index only, resolved through pg_index/pg_class/pg_attribute
    assert(cols.indexCols.collect().map(r =>
      (r.getAs[String]("table_name"), r.getAs[String]("index_name"), r.getAs[String]("column_name"))).toSeq ==
      Seq(("users", "ux_email", "email")))
    val fks = cols.fkCols.collect()
    assert(fks.length == 1)
    assert(fks.head.getAs[String]("column_name") == "user_id")
    assert(fks.head.getAs[String]("referenced_table") == "users")
  }

  test("parquet catalog snapshot round-trips and lints identically (--parquet path)") {
    val dir = tempDir("graft-cat").toString
    Catalog.writeParquet(SchemaLint.fixtureCatalog(spark), dir)
    val viaParquet = Rules.all(Catalog.fromParquet(spark, dir)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val inMemory = SchemaLint.report(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(viaParquet == inMemory)
    assert(viaParquet.length == 18)
    // a repeated lint of the unchanged snapshot infers no schema again
    val (again, jobs) = countJobs(Catalog.fromParquet(spark, dir))
    assert(jobs == 0, s"second fromParquet of the same snapshot ran $jobs jobs")
    assert(Rules.all(again).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq == inMemory)
  }

  test("database name is escaped against SQL injection in dialect SQL") {
    assert(Dialects.escaped("bad'db") == "bad''db")
    assert(Dialects.mysql("bad'db").columnsSql.contains("'bad''db'"))
    assert(Dialects.postgresql("bad'db").columnsSql.contains("'bad''db'"))
  }

  test("normalize casts MySQL's BIGINT 0/1 flags to boolean so Rules runs (live-MySQL shape)") {
    val s = spark
    import s.implicits._
    // what spark.read.jdbc actually yields from MySQL: longs for the
    // boolean expressions, longs for ordinals
    val rawCols = Seq(
      ("t", 1L, "email", 1L, "VARCHAR", Integer.valueOf(255), 1L, 0L, 0L),
      ("t", 1L, "payload", 2L, "TEXT", Integer.valueOf(4000), 1L, 0L, 0L))
      .toDF("table_name", "table_seq", "column_name", "ordinal", "data_type",
        "char_max_length", "is_nullable", "is_unique", "is_primary_key")
    val rawIdx = Seq.empty[(String, String, String)]
      .toDF("table_name", "index_name", "column_name")
    val rawFks = Seq.empty[(String, String, String, Long, String)]
      .toDF("table_name", "constraint_name", "column_name", "ordinal_position", "referenced_table")
    val cat = Catalog.normalize(Catalog(rawCols, rawIdx, rawFks))
    val issues = Rules.all(cat).collect()
    assert(issues.nonEmpty) // R1 fires on payload, R5 on email — no AnalysisException
    assert(issues.exists(_.getString(1) == "payload"))
    assert(issues.exists(_.getString(1) == "email"))
  }
}
