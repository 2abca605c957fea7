package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Register `name` as a session SQL function unless the session already
    * has it. Registration is per session, so the ops that call this on
    * every run register once and then find the entry; replacing it each
    * time would be wasted work and a registry warning per run. */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      build: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, build, "built-in")
  }
}
