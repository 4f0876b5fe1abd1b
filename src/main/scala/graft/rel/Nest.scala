package graft.rel

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Relation-valued attributes (RVAs): nested relations as columns
  * (SURVEY §1.2; reference treats any relation type as a column —
  * DataHeading.cs:158, Sample/sample3.andl:7-33, Test/SuiteRelNest.andl).
  *
  * Spark mapping: an RVA is an `ArrayType(StructType)` column holding a SET
  * (we keep it sorted+distinct so two equal nested relations are equal as
  * array values — mirroring the reference's order-independent row hash,
  * DataRow.cs:87-96).
  */
object Nest {

  /** Nest: group by the non-nested attributes, collapse the rest into an
    * RVA. `collect_set` gives set semantics; `array_sort` canonicalizes so
    * nested equality works by value. One shuffle — same as any groupBy. */
  def nest(r: Rel, rvaName: String, rvaCols: Seq[String]): Rel = {
    val keys = r.attrs.filterNot(rvaCols.contains)
    val packed = struct(rvaCols.map(col): _*)
    r.aggregate(keys, rvaName -> array_sort(collect_set(packed)))
  }

  /** Unnest: explode the RVA back into top-level attributes.
    * Distinctness is NOT preserved in general (two groups may share nested
    * tuples after dropping keys), so the bit is cleared via transform. */
  def unnest(r: Rel, rvaName: String): Rel = {
    val others = r.attrs.filterNot(_ == rvaName)
    val exploded = r.bagDF.select((others.map(col) :+ explode(col(rvaName)).as("__x")): _*)
    val inner = exploded.select("__x.*").columns
    Rel.bag(exploded.select((others.map(col) ++ inner.map(c => col(s"__x.$c"))): _*))
  }
}
