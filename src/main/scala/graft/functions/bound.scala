package graft.functions

import scala.collection.immutable.HashSet

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet}
import org.apache.spark.sql.types.LongType

/** Request values bound BY REFERENCE — the prepared-statement role
  * (`WHERE id = $1`, tools.yaml:36-39): a serve plan's generated code
  * must be the same class for every request of its shape, so a value
  * that changes per request may not enter it as an inlined literal.
  * `lit(id)` / `isin(ids: _*)` do exactly that: `In` keeps each value
  * as a literal in the generated Java (and changes shape with the
  * count below the InSet conversion threshold), so a warm request with
  * new values compiles fresh classes, and the JIT then compiles those
  * too.
  */
object bound {

  /** `c ∈ vs` as ONE Catalyst `InSet` over `cast(c AS bigint)`. The
    * set reaches the generated code as a single reference object, so
    * the class is identical for any values and any count. Still a
    * parquet `In` pushdown (row-group pruning) on data columns and a
    * file-index partition filter on partition columns. The cast is
    * there because `InSet` does no type coercion — a Long set against
    * an int column would silently match nothing; on graft's long id
    * and key columns `SimplifyCasts` removes it. On an int column
    * Catalyst unwraps the cast instead, and an int `InSet` compiles to
    * a `switch` over inlined cases, so the binding holds for long
    * columns (a partition-only filter never reaches generated code
    * either way). The set is always an
    * immutable `HashSet`: the generated code casts the reference to
    * the set's runtime class, and `toSet` would hand it `Set1`..`Set4`
    * below five values — one class per set size. */
  def isin(c: Column, vs: Iterable[Long]): Column =
    GraftBridge.column(InSet(Cast(GraftBridge.expression(c), LongType), HashSet.from[Any](vs)))
}
