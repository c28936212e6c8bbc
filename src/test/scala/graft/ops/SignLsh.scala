package graft.ops

import graft.functions.GraftExtensions.lsh_sign_buckets
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.element_at

/** Random-hyperplane LSH bucket families for the similarity specs, over
  * the engine-portable plane tensor the catalog's planned near-dup
  * query runs.
  */
object SignLsh {

  /** One array<long> column per vector, element t = table t's bucket. */
  def array(dim: Int, bits: Int, tables: Int): Column => Column = {
    val planes = Similarity.lshPlanesPortable(dim, bits, tables)
    v => lsh_sign_buckets(v, planes)
  }

  /** One bucket column per table, each reading the same sketch. */
  def perTable(dim: Int, bits: Int, tables: Int): Seq[Column => Column] = {
    val sketch = array(dim, bits, tables)
    (0 until tables).map(t => (v: Column) => element_at(sketch(v), t + 1))
  }
}
