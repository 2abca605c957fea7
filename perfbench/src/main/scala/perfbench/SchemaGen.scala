package perfbench

import java.sql.{Connection, DriverManager}

import scala.util.Random

/** The schema-lint workload's input: a seeded, metadata-manager-sized
  * schema in in-memory Derby, plus what the reference's five rules must
  * report for it, derived here independently of `graft.rules`.
  *
  * Tables `APP.T00000`.. each have an `ID` primary key and a seeded subset
  * of column templates whose names and types trigger every rule (and its
  * exemptions: unique or indexed wide VARCHARs, FK-covered `*_ID`
  * columns, DECIMAL money). Schema `META` holds the same catalog as the
  * three relations `Catalog.fromJdbcQueries` reads.
  */
object SchemaGen {
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  final case class Col(name: String, ddlType: String, reflType: String, len: Option[Int],
      nullable: Boolean, unique: Boolean, indexed: Boolean, fkTo: Option[String])

  final case class Table(name: String, cols: Seq[Col])

  private val templates: Seq[Random => Col] = Seq(
    r => if (r.nextBoolean()) Col("EMAIL", "VARCHAR(255)", "VARCHAR", Some(255), r.nextBoolean(),
      unique = r.nextBoolean(), indexed = false, None)
      else Col("EMAIL", "VARCHAR(100)", "VARCHAR", Some(100), true, false, false, None),
    r => Col("USERNAME", "VARCHAR(255)", "VARCHAR", Some(255), true, false, r.nextInt(3) == 0, None),
    r => Col("BIO", "VARCHAR(1000)", "VARCHAR", Some(1000), true, false, false, None),
    r => if (r.nextBoolean()) Col("PRICE", "DOUBLE", "DOUBLE", None, r.nextBoolean(), false, false, None)
      else Col("PRICE", "DECIMAL(10,2)", "DECIMAL", None, true, false, false, None),
    r => Col("TOTAL_AMOUNT", if (r.nextBoolean()) "DECIMAL(12,2)" else "REAL",
      "", None, r.nextBoolean(), false, false, None),
    r => Col("ORDER_DATE", "TIMESTAMP", "TIMESTAMP", None, r.nextBoolean(), false, false, None),
    r => Col("CREATED_AT", "DATE", "DATE", None, false, false, false, None),
    r => Col("RATING", "SMALLINT", "SMALLINT", None, true, false, false, None),
    r => Col("USER_ID", "INTEGER", "INTEGER", None, false, false, r.nextInt(4) == 0,
      if (r.nextBoolean()) Some("") else None),
    r => Col("SESSION_ID", "VARCHAR(64)", "VARCHAR", Some(64), true, false, false, None),
    r => Col("BALANCE", "DOUBLE", "DOUBLE", None, true, false, false, None),
    r => Col("STATUS", "VARCHAR(20)", "VARCHAR", Some(20), false, false, false, None),
    r => Col("NOTES", "VARCHAR(300)", "VARCHAR", Some(300), true, false, true, None),
    r => Col("UNIT_COST", "DECIMAL(9,2)", "DECIMAL", None, true, false, false, None))

  /** The schema for `seed`: `nTables` tables of seven columns each. Only
    * which templates a table takes, and their variants, depend on the
    * seed, so every seed's catalog has the same size. */
  def generate(seed: Long, nTables: Int): Seq[Table] = {
    val r = new Random(seed)
    (0 until nTables).map { i =>
      val name = f"T$i%05d"
      val picked = r.shuffle(templates.indices.toList).take(6).sorted
      val cols = picked.map(j => templates(j)(r)).map { c =>
        val typed = if (c.reflType.nonEmpty) c
          else c.copy(reflType = if (c.ddlType.startsWith("DECIMAL")) "DECIMAL" else c.ddlType)
        // an FK needs an earlier table to point at
        typed.fkTo match {
          case Some(_) if i > 0 => typed.copy(fkTo = Some(f"T${r.nextInt(i)}%05d"))
          case _ => typed.copy(fkTo = None)
        }
      }
      Table(name, Col("ID", "INTEGER", "INTEGER", None, false, false, false, None) +: cols)
    }
  }

  /** Creates the schema in a fresh in-memory Derby database. */
  def load(url: String, tables: Seq[Table]): Unit = {
    Class.forName(Driver)
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      tables.foreach { t =>
        val cols = t.cols.map { c =>
          val nn = if (c.nullable) "" else " NOT NULL"
          val pk = if (c.name == "ID") " PRIMARY KEY" else ""
          val fk = c.fkTo.map(p => s" REFERENCES $p(ID)").getOrElse("")
          s"${c.name} ${c.ddlType}$nn$pk$fk"
        }
        st.execute(s"CREATE TABLE ${t.name} (${cols.mkString(", ")})")
        t.cols.filter(_.unique).foreach(c =>
          st.execute(s"CREATE UNIQUE INDEX UX_${t.name}_${c.name} ON ${t.name}(${c.name})"))
        t.cols.filter(_.indexed).foreach(c =>
          st.execute(s"CREATE INDEX IX_${t.name}_${c.name} ON ${t.name}(${c.name})"))
      }
      loadMeta(conn, tables)
      conn.commit()
    } finally conn.close()
  }

  /** The same catalog as `META.COLS`, `META.IDX` and `META.FK`, shaped like
    * the relations `Catalog.fromReflection` produces. */
  private def loadMeta(conn: Connection, tables: Seq[Table]): Unit = {
    val st = conn.createStatement()
    st.execute("CREATE SCHEMA META")
    st.execute("""CREATE TABLE META.COLS (table_name VARCHAR(64), table_seq INT,
      column_name VARCHAR(64), ordinal INT, data_type VARCHAR(32), char_max_length INT,
      is_nullable BOOLEAN, is_unique BOOLEAN, is_primary_key BOOLEAN)""")
    st.execute("CREATE TABLE META.IDX (table_name VARCHAR(64), index_name VARCHAR(64), column_name VARCHAR(64))")
    st.execute("""CREATE TABLE META.FK (table_name VARCHAR(64), constraint_name VARCHAR(64),
      column_name VARCHAR(64), ordinal_position INT, referenced_table VARCHAR(64))""")
    val ins = conn.prepareStatement("INSERT INTO META.COLS VALUES (?,?,?,?,?,?,?,?,?)")
    val idx = conn.prepareStatement("INSERT INTO META.IDX VALUES (?,?,?)")
    val fk = conn.prepareStatement("INSERT INTO META.FK VALUES (?,?,?,?,?)")
    tables.zipWithIndex.foreach { case (t, ti) =>
      t.cols.zipWithIndex.foreach { case (c, ci) =>
        ins.setString(1, t.name); ins.setInt(2, ti + 1); ins.setString(3, c.name)
        ins.setInt(4, ci + 1); ins.setString(5, c.reflType)
        c.len match { case Some(l) => ins.setInt(6, l) case None => ins.setNull(6, java.sql.Types.INTEGER) }
        ins.setBoolean(7, c.nullable); ins.setBoolean(8, c.unique)
        ins.setBoolean(9, c.name == "ID"); ins.addBatch()
        if (c.unique || c.indexed) {
          idx.setString(1, t.name); idx.setString(2, s"IX_${t.name}_${c.name}")
          idx.setString(3, c.name); idx.addBatch()
        }
        c.fkTo.foreach { p =>
          fk.setString(1, t.name); fk.setString(2, s"FK_${t.name}_${c.name}")
          fk.setString(3, c.name); fk.setInt(4, 1); fk.setString(5, p); fk.addBatch()
        }
      }
    }
    ins.executeBatch(); idx.executeBatch(); fk.executeBatch()
  }

  def drop(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", "") + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a completed drop this way

  /** (table, column, issue type, issue, recommendation) rows the five rules
    * must emit, in report order. */
  def expectedIssues(tables: Seq[Table]): Seq[Seq[String]] =
    tables.flatMap { t =>
      t.cols.flatMap { c =>
        val lc = c.name.toLowerCase
        // an FK column is index-backed in Derby, so it counts as indexed
        val indexed = c.indexed || c.fkTo.nonEmpty
        val tc = s"${t.name}(${c.name})"
        val r1 = c.reflType == "VARCHAR" && c.len.exists(_ >= 255) && !c.unique && !indexed
        val r2 = (lc.endsWith("id") || lc.startsWith("id")) && c.name != "ID" &&
          c.fkTo.isEmpty && !indexed
        val r3 = Seq("price", "amount", "total", "cost", "value", "balance", "rate")
          .exists(lc.contains) && !Set("DECIMAL", "NUMERIC").contains(c.reflType)
        val expected = Map("rating" -> "FLOAT", "created_at" -> "DATETIME",
          "order_date" -> "DATETIME").get(lc)
        val r5 = Set("email", "price", "total_amount", "order_date", "rating").contains(lc) &&
          c.nullable
        Seq(
          Option.when(r1)(Seq("Query performance - missing index",
            s"Large ${c.reflType} column '${c.name}' in '${t.name}' is not indexed.",
            s"Add an index on '$tc' to improve query performance.")),
          Option.when(r2)(Seq("Normalization - Data integrity",
            s"Potential foreign key column '${c.name}' is not properly defined.",
            s"Define a foreign key constraint and index for '${c.name}' referencing the " +
              "appropriate table and add the correct kind of index. ")),
          Option.when(r3)(Seq("Data type - Precision error",
            s"Monetary column '${c.name}' is of type '${c.reflType}', expected DECIMAL or NUMERIC.",
            s"Consider changing the column '$tc' to DECIMAL or NUMERIC for better precision " +
              "in monetary calculations.")),
          expected.filter(_ != c.reflType).map(e => Seq("Data type mismatch",
            s"Column '${c.name}' has type '${c.reflType}', expected '$e'.",
            s"Change column '$tc' to '$e' to match the expected type defined")),
          Option.when(r5)(Seq("Data Integrity - NULL values not allowed",
            s"Critical column '${c.name}' allows NULL values.",
            s"Alter column '$tc' to NOT NULL to maintain data integrity."))
        ).flatten.map(rest => Seq(t.name, c.name) ++ rest)
      }
    }

  /** The CSV `Report.writeCsv` must produce for `issues`: Spark's CSV
    * writer quotes only fields that need it and trims surrounding
    * whitespace. */
  def expectedCsv(issues: Seq[Seq[String]]): String = {
    def field(s: String): String = {
      val v = s.trim
      if (v.exists(ch => ch == ',' || ch == '"' || ch == '\n')) "\"" + v.replace("\"", "\\\"") + "\""
      else v
    }
    (Seq(graft.report.Report.header) ++ issues).map(_.map(field).mkString(",")).mkString("", "\n", "\n")
  }
}
