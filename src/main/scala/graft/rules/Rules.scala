package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** The reference's five schema-lint rules (`/root/reference/app.py:41-105`)
  * as whole-relation DataFrame transforms.
  *
  * The reference's per-table nested loop + hand-built membership sets
  * (`app.py:31-38,34-35`) vanish: membership is computed ONCE as two
  * correlated `EXISTS` columns on the `columns` relation ([[flagged]]),
  * which Spark plans as broadcast existence joins; the R4 expected-type
  * dictionary (`app.py:79-83`) is a literal map lookup, and all five
  * rules then evaluate as `when(...)` predicates inside a single
  * codegen'd projection — `all` emits every issue in one pass
  * (array-of-structs → explode) over one partition, so neither the joins
  * nor the ordered emission shuffle, instead of five rule sub-plans each
  * building its own joins.
  *
  * Message strings reproduce the `app.py` f-strings byte-for-byte,
  * including R2's trailing space (`app.py:61-62`) and R4's missing final
  * period (`app.py:92`).
  */
object Rules {
  private val orderCols = Seq("table_seq", "ordinal", "rule_id")
  private val outCols = Seq("table", "column", "issue_type", "issue", "recommendation")

  /** One lint rule: predicate + messages over the [[flagged]] relation —
    * the single source of truth shared by the per-rule entry points and
    * the fused [[all]]. */
  private final case class RuleDef(
      id: Int, issueType: String, cond: Column, issue: Column, recommendation: Column)

  /** `columns` with membership flags, computed once:
    *   - `is_indexed`  — (table, column) appears in `indexed_columns`
    *     (`app.py:44,55`), as a correlated `EXISTS`;
    *   - `is_fk_first` — (table, column) is the FIRST constrained column
    *     of some FK (`app.py:35,55`), same shape;
    *   - `expected_type` — R4's dictionary (`app.py:79-83`) as a literal
    *     map lookup (null when the name isn't in the dictionary).
    * `EXISTS` is never null, and Spark plans each one as an existence
    * join: the index/FK relations describe schemas, not data, so they are
    * always small enough to broadcast, and need no de-duplication. */
  private def flagged(catalog: Catalog): DataFrame = {
    // the outer side is qualified: the subquery is analysed on its own
    // first, and would resolve a bare outer name to its own same-named key
    def member(rel: DataFrame): Column = rel.where(
      rel("table_name") === col("c.table_name").outer() &&
        rel("column_name") === col("c.column_name").outer()).exists()
    val expected = typedLit(Map(
      "rating" -> "FLOAT", "created_at" -> "DATETIME", "order_date" -> "DATETIME"))
    catalog.columns.as("c")
      .withColumn("is_indexed", member(catalog.indexCols))
      .withColumn("is_fk_first", member(catalog.fkCols.filter(col("ordinal_position") === 1)))
      .withColumn("expected_type", element_at(expected, lower(col("column_name"))))
  }

  /** Rule 1 (`app.py:42-51`): large VARCHAR/TEXT, not indexed, not unique.
    * The `hasattr … and length` guard means a NULL/0 length never fires. */
  private val rule1Def = RuleDef(1, "Query performance - missing index",
    col("data_type").isin("VARCHAR", "TEXT") &&
      col("char_max_length").isNotNull && col("char_max_length") =!= 0 &&
      col("char_max_length") >= 255 && !col("is_unique") && !col("is_indexed"),
    concat(lit("Large "), col("data_type"), lit(" column '"), col("column_name"),
      lit("' in '"), col("table_name"), lit("' is not indexed.")),
    concat(lit("Add an index on '"), col("table_name"), lit("("), col("column_name"),
      lit(")' to improve query performance.")))

  /** Rule 2 (`app.py:53-63`): id-named columns lacking FK/index/PK.
    * Matches `lower(name)` prefix OR suffix "id" (`app.py:54`); only the
    * FIRST constrained column of each FK counts (`app.py:35`); trailing
    * space in the recommendation is the reference's own (`app.py:62`). */
  private val rule2Def = {
    val lcName = lower(col("column_name"))
    RuleDef(2, "Normalization - Data integrity",
      (lcName.endsWith("id") || lcName.startsWith("id")) && !col("is_primary_key") &&
        !col("is_fk_first") && !col("is_indexed"),
      concat(lit("Potential foreign key column '"), col("column_name"),
        lit("' is not properly defined.")),
      concat(lit("Define a foreign key constraint and index for '"), col("column_name"),
        lit("' referencing the appropriate table and add the correct kind of index. ")))
  }

  /** Rule 3 (`app.py:65-76`): monetary-named columns not DECIMAL/NUMERIC.
    * Substring (not word) match, keyword list order as in `app.py:66-67`;
    * type comparison is case-sensitive (`app.py:68`). */
  private val rule3Def = {
    val keywords = Seq("price", "amount", "total", "cost", "value", "balance", "rate")
    val lcName = lower(col("column_name"))
    RuleDef(3, "Data type - Precision error",
      keywords.map(k => lcName.contains(k)).reduce(_ || _) &&
        !col("data_type").isin("DECIMAL", "NUMERIC"),
      concat(lit("Monetary column '"), col("column_name"), lit("' is of type '"),
        col("data_type"), lit("', expected DECIMAL or NUMERIC.")),
      concat(lit("Consider changing the column '"), col("table_name"), lit("("),
        col("column_name"),
        lit(")' to DECIMAL or NUMERIC for better precision in monetary calculations.")))
  }

  /** Rule 4 (`app.py:78-93`): expected-type dictionary lookup — the 3-row
    * dictionary is a literal map in [[flagged]]. */
  private val rule4Def = RuleDef(4, "Data type mismatch",
    col("expected_type").isNotNull && col("data_type") =!= col("expected_type"),
    concat(lit("Column '"), col("column_name"), lit("' has type '"), col("data_type"),
      lit("', expected '"), col("expected_type"), lit("'.")),
    concat(lit("Change column '"), col("table_name"), lit("("), col("column_name"),
      lit(")' to '"), col("expected_type"), lit("' to match the expected type defined")))

  /** Rule 5 (`app.py:95-105`): NOT NULL policy columns that allow NULL. */
  private val rule5Def = {
    val nonNullable = Seq("email", "price", "total_amount", "order_date", "rating")
    RuleDef(5, "Data Integrity - NULL values not allowed",
      lower(col("column_name")).isin(nonNullable: _*) && col("is_nullable"),
      concat(lit("Critical column '"), col("column_name"), lit("' allows NULL values.")),
      concat(lit("Alter column '"), col("table_name"), lit("("), col("column_name"),
        lit(")' to NOT NULL to maintain data integrity.")))
  }

  private val ruleDefs = Seq(rule1Def, rule2Def, rule3Def, rule4Def, rule5Def)

  private def single(r: RuleDef)(catalog: Catalog): DataFrame =
    flagged(catalog).filter(r.cond).select(
      col("table_seq"), col("ordinal"), lit(r.id).as("rule_id"),
      col("table_name").as("table"), col("column_name").as("column"),
      lit(r.issueType).as("issue_type"), r.issue.as("issue"),
      r.recommendation.as("recommendation"))

  def rule1(catalog: Catalog): DataFrame = single(rule1Def)(catalog)
  def rule2(catalog: Catalog): DataFrame = single(rule2Def)(catalog)
  def rule3(catalog: Catalog): DataFrame = single(rule3Def)(catalog)
  def rule4(catalog: Catalog): DataFrame = single(rule4Def)(catalog)
  def rule5(catalog: Catalog): DataFrame = single(rule5Def)(catalog)

  /** All five rules in reference emission order: tables in catalog order,
    * columns in DDL order, rules R1→R5 per column (`app.py:31,38,42-105` —
    * one column can emit several issues). Single pass: each rule is a
    * `when(cond, struct(...))` element of a per-row array; nulls are
    * filtered and the survivors exploded — a row with no issues emits
    * nothing, a row with several emits them in rule order. The issues are
    * coalesced to one partition before the sort: a report has at most
    * five rows per catalog column, and a sort within one partition needs
    * no range-partition exchange (no sampling job, no shuffle) — also for
    * any re-sort of the result, such as `ref_schema_lint`'s. */
  def all(catalog: Catalog): DataFrame = {
    val issues = array(ruleDefs.map(r =>
      when(r.cond, struct(
        lit(r.id).as("rule_id"), lit(r.issueType).as("issue_type"),
        r.issue.as("issue"), r.recommendation.as("recommendation")))): _*)
    flagged(catalog)
      .select(
        col("table_seq"), col("ordinal"),
        col("table_name").as("table"), col("column_name").as("column"),
        explode(filter(issues, _.isNotNull)).as("r"))
      .select(col("table_seq"), col("ordinal"), col("r.rule_id").as("rule_id"),
        col("table"), col("column"), col("r.issue_type").as("issue_type"),
        col("r.issue").as("issue"), col("r.recommendation").as("recommendation"))
      .coalesce(1)
      .orderBy(orderCols.map(col): _*)
      .select(outCols.map(col): _*)
  }
}
