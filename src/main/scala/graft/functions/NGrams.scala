package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst [[Generator]] — the Scala UDTF shape (one input row →
  * many output rows), completing the extension ladder next to the scalar
  * expression ([[CosineSimilarity]]), the `Aggregator` UDAF, the
  * optimizer rule ([[RewriteCosineUdf]]) and the whole-operator plan
  * ([[graft.plans.AsofJoin]]).
  *
  * `ngrams(text, n)` emits one row per word n-gram of the
  * whitespace-tokenized input. Unlike the `transform(sequence(...))` +
  * `explode` composition (q23), the generator never materializes the
  * intermediate n-gram array per row — rows stream out of GenerateExec —
  * which is the memory shape you want when a 100 TB corpus has documents
  * long enough that per-row arrays spike allocation.
  */
case class NGrams(text: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, n)

  override def elementSchema: StructType = new StructType().add("ngram", StringType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"ngrams expects a string column, got ${text.dataType}")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure("ngrams expects a literal int n")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val width: Int = n.eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = text.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      // limit -1: keep trailing empty tokens, matching Spark SQL's
      // split() and DuckDB's string_split (Java's default drops them)
      val toks = s.toString.split(" ", -1)
      if (toks.length < width) Nil
      else (0 to toks.length - width).iterator.map { i =>
        InternalRow(UTF8String.fromString(toks.slice(i, i + width).mkString(" ")))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NGrams =
    copy(text = newChildren(0), n = newChildren(1))
}

object NGrams {
  /** Register as a SQL generator function for the session (name: ngrams). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "ngrams")(exprs => NGrams(exprs.head, exprs(1)))
}
